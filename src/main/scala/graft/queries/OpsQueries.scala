package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.ops.{Cleaning, CorpusBuild, Dedup, Pq, Similarity, TextOps, Multimodal, Web}

/** Training-data-pipeline operators (dedup family, similarity search, text
  * analysis, multimodal plumbing) as oracle-checked queries over the
  * `documents`/`embeddings` tables.
  *
  * Pair queries cap the document/vector id (`< 1000` / `< 500`) so the
  * quadratic *verification* stays bounded at every SF — the library
  * operators themselves are the scale path (LSH/IVF candidate pruning);
  * the caps bound only what the oracle recomputes exactly.
  */
object OpsQueries {
  type Q = (SparkSession, String) => DataFrame

  // ———————————————————————————————————————————— exact dedup (hash groups)
  val q19DedupExact: Q = (s, dir) =>
    Dedup.exactGroups(Tables.documents(s, dir), "text", "doc_id")
  val q19Sql: String = """
    SELECT md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS fp,
      min(doc_id) AS keeper, count(*) AS group_size
    FROM documents GROUP BY 1"""

  // ———————————————————————————————————————————— n-gram Jaccard pairs
  val q20NgramJaccard: Q = (s, dir) =>
    Dedup.ngramJaccardPairs(
      Tables.documents(s, dir).filter(col("doc_id") < 1000),
      "text", "doc_id", n = 3, threshold = 0.5)
  val q20Sql: String = """
    WITH d AS (SELECT doc_id, string_split(lower(text), ' ') AS w
               FROM documents WHERE doc_id < 1000),
    idx AS (SELECT doc_id, w, unnest(range(1, len(w) - 1)) AS i FROM d),
    sh AS (SELECT DISTINCT doc_id, w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS shingle
           FROM idx),
    sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY 1),
    inter AS (SELECT x.doc_id AS a, y.doc_id AS b, count(*) AS inter
              FROM sh x JOIN sh y ON x.shingle = y.shingle AND x.doc_id < y.doc_id
              GROUP BY 1, 2)
    SELECT a, b, jaccard FROM (
      SELECT a, b, inter / CAST(sa.n_sh + sb.n_sh - inter AS DOUBLE) AS jaccard
      FROM inter JOIN sizes sa ON sa.doc_id = a JOIN sizes sb ON sb.doc_id = b)
    WHERE jaccard >= 0.5"""

  // ———————————————————————————————————— df-pruned n-gram Jaccard pairs
  // (the 100 TB-safe configuration: shingles in more than `maxDocFreq`
  //  docs are dropped before BOTH the self-join and the size counts, so
  //  no join bucket exceeds maxDocFreq² and the score stays a true
  //  Jaccard over the pruned shingle universe)
  val q42JaccardDfPruned: Q = (s, dir) =>
    Dedup.ngramJaccardPairs(
      Tables.documents(s, dir).filter(col("doc_id") < 1000),
      "text", "doc_id", n = 3, threshold = 0.5, maxDocFreq = 50)
  val q42Sql: String = """
    WITH d AS (SELECT doc_id, string_split(lower(text), ' ') AS w
               FROM documents WHERE doc_id < 1000),
    idx AS (SELECT doc_id, w, unnest(range(1, len(w) - 1)) AS i FROM d),
    sh0 AS (SELECT DISTINCT doc_id, w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS shingle
            FROM idx),
    hot AS (SELECT shingle FROM sh0 GROUP BY shingle HAVING count(*) > 50),
    sh AS (SELECT * FROM sh0 WHERE shingle NOT IN (SELECT shingle FROM hot)),
    sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY 1),
    inter AS (SELECT x.doc_id AS a, y.doc_id AS b, count(*) AS inter
              FROM sh x JOIN sh y ON x.shingle = y.shingle AND x.doc_id < y.doc_id
              GROUP BY 1, 2)
    SELECT a, b, jaccard FROM (
      SELECT a, b, inter / CAST(sa.n_sh + sb.n_sh - inter AS DOUBLE) AS jaccard
      FROM inter JOIN sizes sa ON sa.doc_id = a JOIN sizes sb ON sb.doc_id = b)
    WHERE jaccard >= 0.5"""

  // ———————————————————————————————————————————— minhash + LSH candidates
  // (maxBucket = the filtered set's size: provably a no-op for the oracle
  //  at any SF, while the benched plan carries the bounded-bucket shape —
  //  production corpora set a real cap after exact-dedup-first)
  val q21MinhashLsh: Q = (s, dir) =>
    Dedup.minhashCandidatePairs(
      Tables.documents(s, dir).filter(col("doc_id") < 1000),
      "text", "doc_id", shingleN = 3, numHashes = 12, rowsPerBand = 3,
      maxBucket = 1000)
  val q21Sql: String = """
    WITH d AS (SELECT doc_id, string_split(lower(text), ' ') AS w
               FROM documents WHERE doc_id < 1000),
    idx AS (SELECT doc_id, w, unnest(range(1, len(w) - 1)) AS i FROM d),
    sh AS (SELECT DISTINCT doc_id, w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS shingle
           FROM idx),
    hx AS (SELECT doc_id, unnest(range(0, 12)) AS i, shingle FROM sh),
    sigs AS (SELECT doc_id, i,
               min(md5(CAST(i AS VARCHAR) || '|' || shingle)) AS sig
             FROM hx GROUP BY 1, 2),
    bands AS (SELECT doc_id, CAST(i // 3 AS INT) AS band,
                md5(max(CASE WHEN i % 3 = 0 THEN sig END)
                 || max(CASE WHEN i % 3 = 1 THEN sig END)
                 || max(CASE WHEN i % 3 = 2 THEN sig END)) AS band_sig
              FROM sigs GROUP BY 1, 2)
    SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
    FROM bands x JOIN bands y
      ON x.band = y.band AND x.band_sig = y.band_sig AND x.doc_id < y.doc_id"""

  // ——————————————————————— LSH candidates + exact-Jaccard verification
  // (the production dedup composition: generate via banding, verify
  //  exactly ONLY on candidates — oracle recomputes both stages in SQL)
  val q56MinhashVerified: Q = (s, dir) =>
    Dedup.minhashNearDupPairs(
      Tables.documents(s, dir).filter(col("doc_id") < 1000),
      "text", "doc_id", shingleN = 3, numHashes = 12, rowsPerBand = 3,
      threshold = 0.5, maxBucket = 1000)
  val q56Sql: String = """
    WITH d AS (SELECT doc_id, string_split(lower(text), ' ') AS w
               FROM documents WHERE doc_id < 1000),
    idx AS (SELECT doc_id, w, unnest(range(1, len(w) - 1)) AS i FROM d),
    sh AS (SELECT DISTINCT doc_id, w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS shingle
           FROM idx),
    hx AS (SELECT doc_id, unnest(range(0, 12)) AS i, shingle FROM sh),
    sigs AS (SELECT doc_id, i,
               min(md5(CAST(i AS VARCHAR) || '|' || shingle)) AS sig
             FROM hx GROUP BY 1, 2),
    bands AS (SELECT doc_id, CAST(i // 3 AS INT) AS band,
                md5(max(CASE WHEN i % 3 = 0 THEN sig END)
                 || max(CASE WHEN i % 3 = 1 THEN sig END)
                 || max(CASE WHEN i % 3 = 2 THEN sig END)) AS band_sig
              FROM sigs GROUP BY 1, 2),
    cand AS (SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
             FROM bands x JOIN bands y
               ON x.band = y.band AND x.band_sig = y.band_sig
                  AND x.doc_id < y.doc_id),
    sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY 1),
    inter AS (SELECT c.a, c.b, count(*) AS inter
              FROM cand c
              JOIN sh x ON x.doc_id = c.a
              JOIN sh y ON y.doc_id = c.b AND y.shingle = x.shingle
              GROUP BY 1, 2)
    SELECT a, b, jaccard FROM (
      SELECT a, b, inter / CAST(sa.n_sh + sb.n_sh - inter AS DOUBLE) AS jaccard
      FROM inter JOIN sizes sa ON sa.doc_id = a JOIN sizes sb ON sb.doc_id = b)
    WHERE jaccard >= 0.5"""

  // ————————————————————————— the COMPLETE near-dup dedup pipeline
  // (every stage composed end to end, the way a training-data run ships:
  //  LSH banding generates candidates (bounded buckets), exact Jaccard
  //  verifies candidates only, connected components collapse transitive
  //  chains, and one keeper per cluster survives. The oracle re-derives
  //  all four stages in SQL — banding, verification, a recursive-CTE
  //  component walk, and the anti-join.)
  val q61DedupPipeline: Q = (s, dir) =>
    Dedup.dedupedByClusters(
      Tables.documents(s, dir).filter(col("doc_id") < 1000),
      "doc_id",
      Dedup.minhashNearDupPairs(
        Tables.documents(s, dir).filter(col("doc_id") < 1000),
        "text", "doc_id", shingleN = 3, numHashes = 12, rowsPerBand = 3,
        threshold = 0.5, maxBucket = 1000))
      .select(col("doc_id"))
  val q61Sql: String = """
    WITH RECURSIVE d AS (SELECT doc_id, string_split(lower(text), ' ') AS w
               FROM documents WHERE doc_id < 1000),
    idx AS (SELECT doc_id, w, unnest(range(1, len(w) - 1)) AS i FROM d),
    sh AS (SELECT DISTINCT doc_id, w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS shingle
           FROM idx),
    hx AS (SELECT doc_id, unnest(range(0, 12)) AS i, shingle FROM sh),
    sigs AS (SELECT doc_id, i,
               min(md5(CAST(i AS VARCHAR) || '|' || shingle)) AS sig
             FROM hx GROUP BY 1, 2),
    bands AS (SELECT doc_id, CAST(i // 3 AS INT) AS band,
                md5(max(CASE WHEN i % 3 = 0 THEN sig END)
                 || max(CASE WHEN i % 3 = 1 THEN sig END)
                 || max(CASE WHEN i % 3 = 2 THEN sig END)) AS band_sig
              FROM sigs GROUP BY 1, 2),
    cand AS (SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
             FROM bands x JOIN bands y
               ON x.band = y.band AND x.band_sig = y.band_sig
                  AND x.doc_id < y.doc_id),
    sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY 1),
    inter AS (SELECT c.a, c.b, count(*) AS inter
              FROM cand c
              JOIN sh x ON x.doc_id = c.a
              JOIN sh y ON y.doc_id = c.b AND y.shingle = x.shingle
              GROUP BY 1, 2),
    pairs AS (SELECT a, b FROM (
        SELECT a, b, inter / CAST(sa.n_sh + sb.n_sh - inter AS DOUBLE) AS jaccard
        FROM inter JOIN sizes sa ON sa.doc_id = a JOIN sizes sb ON sb.doc_id = b)
      WHERE jaccard >= 0.5),
    edges AS (SELECT a AS src, b AS dst FROM pairs
              UNION ALL SELECT b, a FROM pairs),
    walk(node, label) AS (
      SELECT src, src FROM edges
      UNION
      SELECT e.dst, wk.label FROM walk wk JOIN edges e ON e.src = wk.node),
    clusters AS (SELECT node AS id, min(label) AS cluster FROM walk GROUP BY node),
    dupes AS (SELECT id FROM clusters WHERE id != cluster)
    SELECT doc_id FROM documents
    WHERE doc_id < 1000 AND doc_id NOT IN (SELECT id FROM dupes)"""

  // ———————————————————————————————————————————— 16-bit simhash digests
  val q22Simhash: Q = (s, dir) =>
    Tables.documents(s, dir).filter(col("doc_id") < 500)
      .select(col("doc_id"), Dedup.simhash16(col("text")).as("simhash"))
  val q22Sql: String = """
    WITH d AS (SELECT doc_id, string_split(lower(text), ' ') AS w
               FROM documents WHERE doc_id < 500),
    tok AS (SELECT doc_id, unnest(w) AS t FROM d),
    bits AS (SELECT doc_id, md5(t) AS h, unnest(range(0, 16)) AS b FROM tok),
    contrib AS (SELECT doc_id, b,
        ((strpos('0123456789abcdef', substr(h, CAST(b // 4 AS INT) + 1, 1)) - 1)
          // CAST(pow(2, 3 - b % 4) AS BIGINT)) % 2 AS bit
      FROM bits),
    sums AS (SELECT doc_id, b, sum(bit * 2 - 1) AS s FROM contrib GROUP BY 1, 2)
    SELECT doc_id,
      CAST(sum(CASE WHEN s > 0 THEN CAST(pow(2, 15 - b) AS BIGINT) ELSE 0 END)
        AS BIGINT) AS simhash
    FROM sums GROUP BY 1"""

  // ————————————————————————————— deterministic train/val/test split
  // (md5-bucket assignment — stable under any partitioning/engine, which
  //  df.sample()/TABLESAMPLE are not; the property eval splits need)
  val q53SplitAssign: Q = (s, dir) =>
    graft.ops.Sampling.hashSplit(
      Tables.documents(s, dir).select(col("doc_id")),
      "doc_id", Seq("train" -> 80, "val" -> 10, "test" -> 10))
  val q53Sql: String = """
    SELECT doc_id,
      CASE WHEN b < 80 THEN 'train' WHEN b < 90 THEN 'val' ELSE 'test' END
        AS split
    FROM (SELECT doc_id,
            CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 4)) AS BIGINT)
              % 100 AS b
          FROM documents)"""

  // ————————————————————————————— duplicate-cluster assignment
  // (connected components over the jaccard pair graph: min-label
  //  propagation in Spark; the oracle walks the symmetric edge relation
  //  with a recursive CTE — every (node, reachable-node) pair, then
  //  min per node = the component's minimum id)
  val q49DedupClusters: Q = (s, dir) =>
    Dedup.connectedComponents(
      Dedup.ngramJaccardPairs(
        Tables.documents(s, dir).filter(col("doc_id") < 1000),
        "text", "doc_id", n = 3, threshold = 0.5))
  val q49Sql: String = """
    WITH RECURSIVE d AS (SELECT doc_id, string_split(lower(text), ' ') AS w
               FROM documents WHERE doc_id < 1000),
    idx AS (SELECT doc_id, w, unnest(range(1, len(w) - 1)) AS i FROM d),
    sh AS (SELECT DISTINCT doc_id, w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS shingle
           FROM idx),
    sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY 1),
    inter AS (SELECT x.doc_id AS a, y.doc_id AS b, count(*) AS inter
              FROM sh x JOIN sh y ON x.shingle = y.shingle AND x.doc_id < y.doc_id
              GROUP BY 1, 2),
    pairs AS (SELECT a, b FROM (
        SELECT a, b, inter / CAST(sa.n_sh + sb.n_sh - inter AS DOUBLE) AS jaccard
        FROM inter JOIN sizes sa ON sa.doc_id = a JOIN sizes sb ON sb.doc_id = b)
      WHERE jaccard >= 0.5),
    edges AS (SELECT a AS src, b AS dst FROM pairs
              UNION ALL SELECT b, a FROM pairs),
    walk(node, label) AS (
      SELECT src, src FROM edges
      UNION
      SELECT e.dst, wk.label FROM walk wk JOIN edges e ON e.src = wk.node)
    SELECT node AS id, min(label) AS cluster FROM walk GROUP BY node"""

  // ————————————————————————————— simhash Hamming near-dup pairs
  // (multi-index banding: 4 slices of the 16-bit digest; any pair within
  //  Hamming distance 2 < 4 bands shares a slice — full recall; exact
  //  bit_count(xor) verify on bucket candidates)
  val q44SimhashNearDup: Q = (s, dir) =>
    Dedup.simhashNearDupPairs(
      Tables.documents(s, dir).filter(col("doc_id") < 500),
      "text", "doc_id", maxDist = 2, bands = 4)
  val q44Sql: String = """
    WITH d AS (SELECT doc_id, string_split(lower(text), ' ') AS w
               FROM documents WHERE doc_id < 500),
    tok AS (SELECT doc_id, unnest(w) AS t FROM d),
    bits AS (SELECT doc_id, md5(t) AS h, unnest(range(0, 16)) AS b FROM tok),
    contrib AS (SELECT doc_id, b,
        ((strpos('0123456789abcdef', substr(h, CAST(b // 4 AS INT) + 1, 1)) - 1)
          // CAST(pow(2, 3 - b % 4) AS BIGINT)) % 2 AS bit
      FROM bits),
    sums AS (SELECT doc_id, b, sum(bit * 2 - 1) AS s FROM contrib GROUP BY 1, 2),
    dig AS (SELECT doc_id,
        CAST(sum(CASE WHEN s > 0 THEN CAST(pow(2, 15 - b) AS BIGINT) ELSE 0 END)
          AS BIGINT) AS simhash
      FROM sums GROUP BY 1),
    sl AS (SELECT doc_id, simhash, band, (simhash >> (band * 4)) & 15 AS slice
           FROM dig, (SELECT unnest(range(0, 4)) AS band)),
    cand AS (SELECT DISTINCT x.doc_id AS a, y.doc_id AS b,
               x.simhash AS ha, y.simhash AS hb
             FROM sl x JOIN sl y
               ON x.band = y.band AND x.slice = y.slice AND x.doc_id < y.doc_id)
    SELECT a, b, CAST(bit_count(xor(ha, hb)) AS BIGINT) AS hamming
    FROM cand WHERE bit_count(xor(ha, hb)) <= 2"""

  // ————————————————————————————— 64-bit simhash digests (production width)
  // (integer-shift bit assembly; the MSB term is spelled as the signed
  //  two's-complement minimum in BOTH engines because the oracle's integer
  //  engine rejects 1 << 63)
  val q58Simhash64: Q = (s, dir) =>
    Tables.documents(s, dir).filter(col("doc_id") < 500)
      .select(col("doc_id"), Dedup.simhash64(col("text")).as("simhash64"))
  private val simhash64DigestSql: String = """
    WITH d AS (SELECT doc_id, string_split(lower(text), ' ') AS w
               FROM documents WHERE doc_id < 500),
    tok AS (SELECT doc_id, unnest(w) AS t FROM d),
    bits AS (SELECT doc_id, md5(t) AS h, unnest(range(0, 64)) AS b FROM tok),
    contrib AS (SELECT doc_id, b,
        ((strpos('0123456789abcdef', substr(h, CAST(b // 4 AS INT) + 1, 1)) - 1)
          >> CAST(3 - b % 4 AS INT)) & 1 AS bit
      FROM bits),
    sums AS (SELECT doc_id, b, sum(bit * 2 - 1) AS s FROM contrib GROUP BY 1, 2),
    dig AS (SELECT doc_id,
        CAST(sum(CASE WHEN s <= 0 THEN 0
                      WHEN b = 0 THEN (-9223372036854775807 - 1)
                      ELSE (1::BIGINT << CAST(63 - b AS INT)) END) AS BIGINT)
          AS simhash64
      FROM sums GROUP BY 1)"""
  val q58Sql: String = simhash64DigestSql + """
    SELECT doc_id, simhash64 FROM dig"""

  // ————————————————————————————— 64-bit simhash Hamming near-dup pairs
  // (the configuration the 16-bit kernel's scaladoc promises: 16-bit
  //  slices → 65k buckets per band, pigeonhole recall for dist ≤ 3 < 4)
  val q59Simhash64NearDup: Q = (s, dir) =>
    Dedup.simhashNearDupPairs64(
      Tables.documents(s, dir).filter(col("doc_id") < 500),
      "text", "doc_id", maxDist = 3, bands = 4)
  val q59Sql: String = simhash64DigestSql + """,
    sl AS (SELECT doc_id, simhash64, band,
             (simhash64 >> CAST(band * 16 AS INT)) & 65535 AS slice
           FROM dig, (SELECT unnest(range(0, 4)) AS band)),
    cand AS (SELECT DISTINCT x.doc_id AS a, y.doc_id AS b,
               x.simhash64 AS ha, y.simhash64 AS hb
             FROM sl x JOIN sl y
               ON x.band = y.band AND x.slice = y.slice AND x.doc_id < y.doc_id)
    SELECT a, b, CAST(bit_count(xor(ha, hb)) AS BIGINT) AS hamming
    FROM cand WHERE bit_count(xor(ha, hb)) <= 3"""

  // ———————————————————————————————————————————— embedding near-dup pairs
  val q23EmbedNearDup: Q = (s, dir) =>
    Similarity.nearDupPairs(
      Tables.embeddings(s, dir).filter(col("vec_id") < 500), threshold = 0.45)
  val q23Sql: String = """
    WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e
               FROM embeddings WHERE vec_id < 500)
    SELECT a, b, round(cos_raw, 4) AS cos_sim FROM (
      SELECT x.vec_id AS a, y.vec_id AS b,
        list_dot_product(x.e, y.e)
          / (sqrt(list_dot_product(x.e, x.e)) * sqrt(list_dot_product(y.e, y.e))) AS cos_raw
      FROM v x JOIN v y ON x.vec_id < y.vec_id)
    WHERE cos_raw >= 0.45"""

  // ———————————————————————————————————————————— ANN: exact brute-force top-k
  val q24AnnBrute: Q = (s, dir) => {
    val emb = Tables.embeddings(s, dir)
    val queryDf = emb.filter(col("vec_id") === 0)
      .select(Similarity.asDouble(col("embedding")).as("qvec"))
    Similarity.bruteForceTopK(emb.filter(col("vec_id") > 0), queryDf, k = 10)
  }
  val q24Sql: String = """
    WITH q AS (SELECT CAST(embedding AS DOUBLE[]) AS qe
               FROM embeddings WHERE vec_id = 0)
    SELECT vec_id, round(
        list_dot_product(CAST(embedding AS DOUBLE[]), qe)
        / (sqrt(list_dot_product(CAST(embedding AS DOUBLE[]), CAST(embedding AS DOUBLE[])))
           * sqrt(list_dot_product(qe, qe))), 4) AS cos_sim
    FROM embeddings, q WHERE vec_id > 0
    ORDER BY cos_sim DESC, vec_id LIMIT 10"""

  // ————————————————————————————— ANN: batched multi-query top-k
  // (one ranked scan answers all 5 queries — the shape a serving batch
  //  uses; Q separate scans would multiply the dominant cost by Q)
  val q50AnnBatch: Q = (s, dir) => {
    val emb = Tables.embeddings(s, dir)
    val queries = emb.filter(col("vec_id") < 5)
      .select(col("vec_id").as("q_id"),
        Similarity.asDouble(col("embedding")).as("qvec"))
    Similarity.bruteForceTopKBatch(emb.filter(col("vec_id") >= 5), queries, k = 5)
  }
  val q50Sql: String = """
    WITH q AS (SELECT vec_id AS q_id, CAST(embedding AS DOUBLE[]) AS qe
               FROM embeddings WHERE vec_id < 5),
    v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e
          FROM embeddings WHERE vec_id >= 5),
    scored AS (SELECT q_id, vec_id,
        round(list_dot_product(e, qe)
          / (sqrt(list_dot_product(e, e)) * sqrt(list_dot_product(qe, qe))), 4)
          AS cos_sim
      FROM v, q),
    ranked AS (SELECT *, row_number() OVER
        (PARTITION BY q_id ORDER BY cos_sim DESC, vec_id) AS rk
      FROM scored)
    SELECT q_id, vec_id, cos_sim, CAST(rk AS BIGINT) AS rk
    FROM ranked WHERE rk <= 5"""

  // ———————————————————————————————————————————— ANN: IVF (bucketed) top-k
  val q25AnnIvf: Q = (s, dir) => {
    val emb = Tables.embeddings(s, dir)
    val centroids = emb.filter(col("vec_id") < 16)
      .select(col("vec_id").as("cid"), Similarity.asDouble(col("embedding")).as("cvec"))
    val queryDf = emb.filter(col("vec_id") === 0)
      .select(Similarity.asDouble(col("embedding")).as("qvec"))
    Similarity.ivfTopK(emb.filter(col("vec_id") >= 16), centroids, queryDf,
      k = 10, nProbe = 2)
  }
  val q25Sql: String = """
    WITH c AS (SELECT vec_id AS cid, CAST(embedding AS DOUBLE[]) AS cv
               FROM embeddings WHERE vec_id < 16),
    v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e
          FROM embeddings WHERE vec_id >= 16),
    q AS (SELECT CAST(embedding AS DOUBLE[]) AS qe
          FROM embeddings WHERE vec_id = 0),
    asg AS (SELECT vec_id, e, cid, row_number() OVER
              (PARTITION BY vec_id ORDER BY cos DESC, cid) AS rn
            FROM (SELECT v.vec_id, v.e, c.cid,
                    list_dot_product(v.e, c.cv)
                      / (sqrt(list_dot_product(v.e, v.e))
                         * sqrt(list_dot_product(c.cv, c.cv))) AS cos
                  FROM v, c)),
    a1 AS (SELECT vec_id, e, cid FROM asg WHERE rn = 1),
    probes AS (SELECT cid FROM (
        SELECT c.cid, list_dot_product(c.cv, q.qe)
            / (sqrt(list_dot_product(c.cv, c.cv)) * sqrt(list_dot_product(q.qe, q.qe))) AS cos
        FROM c, q)
      ORDER BY cos DESC, cid LIMIT 2)
    SELECT vec_id, round(
        list_dot_product(e, qe)
        / (sqrt(list_dot_product(e, e)) * sqrt(list_dot_product(qe, qe))), 4) AS cos_sim
    FROM a1 JOIN probes USING (cid), q
    ORDER BY cos_sim DESC, vec_id LIMIT 10"""

  /** The IVF index over vec_id ≥ 16 that q43 and q60 share. */
  private def ivfIndex(dir: String, emb: DataFrame, centroids: DataFrame): String = {
    val path = graft.Staging.pathFor("graft-ivf-index", dir)
    graft.Staging.once(path)(
      Similarity.buildIvfIndex(emb.filter(col("vec_id") >= 16), centroids, path))
    path
  }

  // ————————————————————————————— ANN: IVF over a materialized index
  // (the 100 TB shape q25's scaladoc promises: assignment written once,
  //  partitioned by centroid_id; the search scans only probed partitions.
  //  Same parameters as q25 ⇒ same oracle SQL.)
  val q43AnnIvfIndexed: Q = (s, dir) => {
    val emb = Tables.embeddings(s, dir)
    val centroids = emb.filter(col("vec_id") < 16)
      .select(col("vec_id").as("cid"), Similarity.asDouble(col("embedding")).as("cvec"))
    val queryDf = emb.filter(col("vec_id") === 0)
      .select(Similarity.asDouble(col("embedding")).as("qvec"))
    val path = ivfIndex(dir, emb, centroids)
    Similarity.ivfTopKIndexed(path, centroids, queryDf, k = 10, nProbe = 2)
  }

  // ————————————————————————————— ANN: batched IVF over the same index
  // (the serving-batch shape for the MATERIALIZED index: the union of all
  //  probe sets prunes one scan; each query is scored only against its
  //  own probed buckets and ranked per query — q50's batching, q43's
  //  partition pruning)
  val q60AnnIvfBatch: Q = (s, dir) => {
    val emb = Tables.embeddings(s, dir)
    val centroids = emb.filter(col("vec_id") < 16)
      .select(col("vec_id").as("cid"), Similarity.asDouble(col("embedding")).as("cvec"))
    val queries = emb.filter(col("vec_id") < 5)
      .select(col("vec_id").as("q_id"),
        Similarity.asDouble(col("embedding")).as("qvec"))
    val path = ivfIndex(dir, emb, centroids)
    Similarity.ivfTopKIndexedBatch(path, centroids, queries, k = 5, nProbe = 2)
  }
  val q60Sql: String = """
    WITH c AS (SELECT vec_id AS cid, CAST(embedding AS DOUBLE[]) AS cv
               FROM embeddings WHERE vec_id < 16),
    v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e
          FROM embeddings WHERE vec_id >= 16),
    q AS (SELECT vec_id AS q_id, CAST(embedding AS DOUBLE[]) AS qe
          FROM embeddings WHERE vec_id < 5),
    asg AS (SELECT vec_id, e, cid, row_number() OVER
              (PARTITION BY vec_id ORDER BY cos DESC, cid) AS rn
            FROM (SELECT v.vec_id, v.e, c.cid,
                    list_dot_product(v.e, c.cv)
                      / (sqrt(list_dot_product(v.e, v.e))
                         * sqrt(list_dot_product(c.cv, c.cv))) AS cos
                  FROM v, c)),
    a1 AS (SELECT vec_id, e, cid FROM asg WHERE rn = 1),
    probes AS (SELECT q_id, cid FROM (
        SELECT q.q_id, c.cid, row_number() OVER (PARTITION BY q.q_id ORDER BY
            list_dot_product(c.cv, q.qe)
              / (sqrt(list_dot_product(c.cv, c.cv))
                 * sqrt(list_dot_product(q.qe, q.qe))) DESC, c.cid) AS rn
        FROM c, q)
      WHERE rn <= 2),
    scored AS (SELECT p.q_id, a.vec_id,
        round(list_dot_product(a.e, q.qe)
          / (sqrt(list_dot_product(a.e, a.e))
             * sqrt(list_dot_product(q.qe, q.qe))), 4) AS cos_sim
      FROM a1 a JOIN probes p ON a.cid = p.cid JOIN q ON q.q_id = p.q_id),
    ranked AS (SELECT *, row_number() OVER
        (PARTITION BY q_id ORDER BY cos_sim DESC, vec_id) AS rk
      FROM scored)
    SELECT q_id, vec_id, cos_sim, CAST(rk AS BIGINT) AS rk
    FROM ranked WHERE rk <= 5"""

  // ———————————————————————————————————————————— LSH-bucketed near-dup
  // (sign-random-projection candidates + exact cosine verify; the md5-
  //  derived hyperplanes are rebuilt identically by the SQL oracle)
  val q40LshNearDup: Q = (s, dir) =>
    Similarity.lshNearDupPairs(
      Tables.embeddings(s, dir).filter(col("vec_id") < 500),
      threshold = 0.4, numBits = 16, bitsPerBand = 4, maxBucket = 500)
  // hyperplanes materialized once as arrays and projected with the
  // sequential list_dot_product — an unordered SUM() of the products
  // could flip a near-zero projection's sign between engines
  val q40Sql: String = """
    WITH v AS (SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS e
               FROM embeddings WHERE vec_id < 500),
    hp AS (SELECT j, list_transform(range(0, 64),
             d -> CAST(('0x' || substr(md5(CAST(j AS VARCHAR) || '|' ||
                 CAST(d AS VARCHAR)), 1, 8)) AS BIGINT) / 2147483648.0 - 1.0) AS hv
           FROM (SELECT unnest(range(0, 16)) AS j)),
    bits AS (SELECT id, j,
               CASE WHEN list_dot_product(e, hv) > 0 THEN 1 ELSE 0 END AS bit
             FROM v, hp),
    buckets AS (SELECT id, CAST(j // 4 AS INT) AS band,
                  sum(bit * CAST(pow(2, j % 4) AS BIGINT)) AS bucket
                FROM bits GROUP BY 1, 2),
    cand AS (SELECT DISTINCT x.id AS a, y.id AS b FROM buckets x JOIN buckets y
             ON x.band = y.band AND x.bucket = y.bucket AND x.id < y.id)
    SELECT a, b, round(cr, 4) AS cos_sim FROM (
      SELECT a, b, list_dot_product(va.e, vb.e)
          / (sqrt(list_dot_product(va.e, va.e)) * sqrt(list_dot_product(vb.e, vb.e))) AS cr
      FROM cand JOIN v va ON va.id = a JOIN v vb ON vb.id = b)
    WHERE cr >= 0.4"""

  // ———————————————————————————————————————————— language-ID heuristic
  val q26LangId: Q = (s, dir) => {
    val d = Tables.documents(s, dir)
    val scores = TextOps.langScores(col("text")).map { case (n, c) => c.as(n) }
    d.select(col("doc_id") +: TextOps.langId(col("text")).as("lang_pred") +: scores: _*)
  }
  val q26Sql: String = {
    val scoreExprs = TextOps.langProfiles.toSeq.sortBy(_._1).map { case (lang, ws) =>
      s"CAST(len(regexp_extract_all(lower(text), '\\b(${ws.mkString("|")})\\b')) AS BIGINT) AS score_$lang"
    }.mkString(", ")
    s"""
    WITH sc AS (SELECT doc_id, $scoreExprs FROM documents)
    SELECT doc_id,
      CASE WHEN greatest(score_de, score_en, score_es, score_fr) = 0 THEN 'und'
           WHEN score_de >= score_en AND score_de >= score_es AND score_de >= score_fr THEN 'de'
           WHEN score_en >= score_es AND score_en >= score_fr THEN 'en'
           WHEN score_es >= score_fr THEN 'es'
           ELSE 'fr' END AS lang_pred,
      score_de, score_en, score_es, score_fr
    FROM sc"""
  }

  // ———————————————————————————————————————————— quality metrics
  val q27Quality: Q = (s, dir) => {
    val d = Tables.documents(s, dir)
    val metrics = TextOps.qualityMetrics(col("text")).map { case (n, c) => c.as(n) }
    d.select(col("doc_id") +: metrics: _*)
  }
  val q27Sql: String = """
    SELECT doc_id,
      CAST(length(lower(text)) AS BIGINT) AS n_chars,
      CAST(len(string_split(lower(text), ' ')) AS BIGINT) AS n_words,
      length(regexp_replace(lower(text), '[^a-z]', '', 'g'))
        / CAST(length(lower(text)) AS DOUBLE) AS alpha_ratio,
      length(regexp_replace(lower(text), '[a-z0-9 ]', '', 'g'))
        / CAST(length(lower(text)) AS DOUBLE) AS punct_ratio,
      len(regexp_extract_all(lower(text), '\b(the|and|of|to|a|in|is|that)\b'))
        / CAST(len(string_split(lower(text), ' ')) AS DOUBLE) AS stopword_ratio,
      (length(lower(text)) - (len(string_split(lower(text), ' ')) - 1))
        / CAST(len(string_split(lower(text), ' ')) AS DOUBLE) AS avg_word_len
    FROM documents"""

  // ———————————————————————————————————————————— token counting
  val q28TokenCount: Q = (s, dir) =>
    Tables.documents(s, dir).select(col("doc_id"),
      TextOps.wsTokenCount(col("text")).as("n_ws"),
      TextOps.bpeishTokenCount(col("text")).as("n_bpeish"))
  val q28Sql: String = """
    SELECT doc_id,
      CAST(len(string_split(lower(text), ' ')) AS BIGINT) AS n_ws,
      CAST(len(regexp_extract_all(lower(text), '[a-z]+|[0-9]|[^a-z0-9\s]')) AS BIGINT) AS n_bpeish
    FROM documents"""

  // ———————————————————————————————————————————— row-level fingerprints
  val q29Fingerprint: Q = (s, dir) =>
    Tables.documents(s, dir).select(col("doc_id"),
      TextOps.fingerprint(col("text")).as("fp"))
  val q29Sql: String = """
    SELECT doc_id, md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS fp
    FROM documents"""

  // ———————————————————————————————————————————— winnowing fingerprints
  // (rolling k-gram hashes + sliding-window minima, MOSS-style; pairs
  //  sharing >= `winnowingMinShared` selected fingerprints are near-dup
  //  candidates — the q41 SQL oracle's HAVING clause uses the same value)
  private val winnowingMinShared = 40
  val q41Winnowing: Q = (s, dir) =>
    TextOps.winnowingSharedPairs(
      TextOps.winnowingFingerprintRows(
        Tables.documents(s, dir).filter(col("doc_id") < 1000),
        "text", "doc_id", k = 8, w = 4),
      minShared = winnowingMinShared)
  val q41Sql: String = """
    WITH d AS (SELECT doc_id, trim(regexp_replace(lower(text), '\s+', ' ', 'g')) AS t
               FROM documents WHERE doc_id < 1000),
    g AS (SELECT doc_id, t, unnest(range(0, greatest(length(t) - 7, 0))) AS i FROM d),
    h AS (SELECT doc_id, i,
            CAST(('0x' || substr(md5(substr(t, CAST(i + 1 AS INT), 8)), 1, 8)) AS BIGINT) AS hv,
            count(*) OVER (PARTITION BY doc_id) AS n
          FROM g),
    w AS (SELECT doc_id, i, n, min(hv) OVER
            (PARTITION BY doc_id ORDER BY i
             ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS fp
          FROM h),
    fps AS (SELECT DISTINCT doc_id, fp FROM w WHERE i <= n - 4)
    SELECT x.doc_id AS a, y.doc_id AS b, count(*) AS n_shared
    FROM fps x JOIN fps y ON x.fp = y.fp AND x.doc_id < y.doc_id
    GROUP BY 1, 2 HAVING count(*) >= 40"""

  // ———————————————————————————————————————————— multimodal decode (REAL codecs)
  // The staged corpus is real media bytes (PNG / animated GIF / WAV,
  // generated by JDK encoders) whose decoded properties are closed-form in
  // media_id; the engine decodes the actual bytes with javax.imageio /
  // javax.sound, and the oracle asserts the known dims/frames/rate over the
  // SAME staged parquet — a wrong decode (e.g. pseudo-metadata from byte
  // length) hash-mismatches. Rows with id%23=7 carry undecodable junk and
  // must surface as ok=false with zeroed metadata (the null policy).
  private def mediaParquet(s: SparkSession): String = Multimodal.Fixtures.dataset(s)

  val q30Multimodal: Q = (s, dir) =>
    Multimodal.decodeBatched(s, s.read.parquet(mediaParquet(s))).toDF()
  private def q30Sql: String = s"""
    SELECT media_id, media_type,
      CAST(octet_length(content) AS BIGINT) AS byte_len,
      CAST(CASE WHEN media_id % 23 = 7 THEN 0
                WHEN media_type = 'image' THEN 1 + media_id % 64
                WHEN media_type = 'video' THEN 1 + media_id % 32
                ELSE 0 END AS INT) AS width,
      CAST(CASE WHEN media_id % 23 = 7 THEN 0
                WHEN media_type = 'image' THEN 1 + (media_id * 7) % 48
                WHEN media_type = 'video' THEN 1 + (media_id * 7) % 24
                ELSE 0 END AS INT) AS height,
      CAST(CASE WHEN media_id % 23 = 7 THEN 0
                WHEN media_type = 'image' THEN 1
                WHEN media_type = 'video' THEN 1 + media_id % 30
                ELSE 100 + media_id % 400 END AS INT) AS n_frames,
      CAST(CASE WHEN media_id % 23 = 7 OR media_type <> 'audio' THEN 0
                ELSE 8000 END AS INT) AS sample_rate,
      CAST(CASE WHEN media_id % 23 = 7 OR media_type <> 'audio' THEN 0
                ELSE 1 + media_id % 2 END AS INT) AS channels,
      media_id % 23 <> 7 AS ok
    FROM read_parquet('${Multimodal.Fixtures.parquetPath}/*.parquet')"""

  // ————————————————————————————— multimodal frame sampling (REAL rasters)
  // Every 5th frame of each animated-GIF container is actually decoded —
  // the emitted row carries the frame raster's dimensions and its top-left
  // pixel, and the oracle asserts the exact solid-fill color each frame was
  // encoded with (single-color frames palettize losslessly in GIF).
  val q54FrameSample: Q = (s, dir) =>
    Multimodal.sampleFrames(s, s.read.parquet(mediaParquet(s)), stride = 5).toDF()
  private def q54Sql: String = s"""
    WITH v AS (SELECT media_id
               FROM read_parquet('${Multimodal.Fixtures.parquetPath}/*.parquet')
               WHERE media_type = 'video' AND media_id % 23 <> 7),
    f AS (SELECT media_id, unnest(range(0, 1 + media_id % 30, 5)) AS frame_idx
          FROM v)
    SELECT media_id, frame_idx,
      CAST(1 + media_id % 32 AS INT) AS width,
      CAST(1 + (media_id * 7) % 24 AS INT) AS height,
      CAST(((media_id * 31 + frame_idx * 17) % 256) * 65536
         + ((media_id * 7 + frame_idx * 3) % 256) * 256
         + (media_id * 13 + frame_idx * 5) % 256 AS BIGINT) AS px_rgb
    FROM f"""

  // ————————————————————————————— keyframe / shot-boundary detect (q189)
  // (every GIF frame's FULL raster reduces to channel sums — real pixel
  //  loops, not header math — and a per-container lag window keeps
  //  frame 0 plus frames whose mean-color L1 step exceeds 100/px. The
  //  fixture's solid fills step +17/+3/+5 per frame mod 256, so normal
  //  steps (L1=25) never trigger and every 256-wrap does — the oracle
  //  re-derives each boundary decision closed-form.)
  val q189Keyframes: Q = (s, dir) =>
    Multimodal.keyframes(s, s.read.parquet(mediaParquet(s)),
      thresholdPerPx = 100)
  private def q189Sql: String = s"""
    WITH v AS (SELECT media_id, 1 + media_id % 32 AS w,
                 1 + (media_id * 7) % 24 AS h
               FROM read_parquet('${Multimodal.Fixtures.parquetPath}/*.parquet')
               WHERE media_type = 'video' AND media_id % 23 <> 7),
    f AS (SELECT media_id, w, h,
            unnest(range(0, 1 + media_id % 30)) AS fi FROM v),
    c AS (SELECT media_id, w, h, fi,
            (media_id * 31 + fi * 17) % 256 AS r,
            (media_id * 7 + fi * 3) % 256 AS g,
            (media_id * 13 + fi * 5) % 256 AS b FROM f),
    d AS (SELECT media_id, fi, w, h,
            abs(r - lag(r) OVER win) + abs(g - lag(g) OVER win)
              + abs(b - lag(b) OVER win) AS dl
          FROM c WINDOW win AS (PARTITION BY media_id ORDER BY fi))
    SELECT media_id, fi AS frame_idx, CAST(w AS INT) AS width,
      CAST(h AS INT) AS height,
      CAST(coalesce(dl, 0) * w * h AS BIGINT) AS dist_l1
    FROM d WHERE dl IS NULL OR dl > 100"""

  // ————————————————————————————— multimodal audio DSP (q89)
  // (REAL sample decode, not header math: each WAV payload's 16-bit PCM
  //  samples are read through javax.sound and reduced to count/peak/
  //  mean/RMS. The fixture's data bytes are closed-form in (media_id,
  //  byte position), so the oracle re-derives every sample — wrong
  //  endianness, sign extension, or header offset hash-mismatches.)
  val q89AudioStats: Q = (s, dir) =>
    Multimodal.audioStats(s, s.read.parquet(mediaParquet(s))).toDF()
  private def q89Sql: String = s"""
    WITH a AS (SELECT media_id, 1 + media_id % 2 AS ch, 100 + media_id % 400 AS n
               FROM read_parquet('${Multimodal.Fixtures.parquetPath}/*.parquet')
               WHERE media_type = 'audio' AND media_id % 23 <> 7),
    k AS (SELECT media_id, unnest(range(0, n * ch)) AS k FROM a),
    sm AS (SELECT media_id,
             (media_id + 2 * k) % 251 AS lo,
             (media_id + 2 * k + 1) % 251 AS hi
           FROM k),
    v AS (SELECT media_id,
            (CASE WHEN hi > 127 THEN hi - 256 ELSE hi END) * 256 + lo AS s
          FROM sm)
    SELECT media_id, count(*) AS n_samples,
      CAST(max(abs(s)) AS INT) AS peak,
      CAST(sum(s) AS DOUBLE) / count(*) AS mean,
      sqrt(CAST(sum(s * s) AS DOUBLE) / count(*)) AS rms
    FROM v GROUP BY 1"""

  // ————————————————————————————— URL/domain curation (q90)
  // (the provenance-side controls of a crawl corpus: URL decomposition,
  //  registrable-domain (eTLD+1) extraction over an embedded multi-part
  //  suffix set, domain blocklist, and a two-phase salted per-domain
  //  cap. Both sides synthesize the SAME url string from (doc_id,
  //  source, lang) — subdomain, public suffix, port, and query shapes
  //  all vary by doc — then parse it with INDEPENDENT machinery: the
  //  engine with java.net.URI via `parse_url`, the oracle with DuckDB
  //  regexes; the cap's exact global rank is one window in the oracle
  //  vs the engine's two-phase salted form, so phase-exactness is under
  //  hash check too.)
  private val q90Blocked = Seq("src5.com", "src1.co.uk", "src7.io")

  private[graft] def webDocs(s: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(s, dir)
    val id = col("doc_id")
    val sub = element_at(array(lit(""), lit("www."), lit("cdn."), lit("a.b.")),
      (id % 4).cast("int") + 1)
    val suffix = element_at(
      array(lit(".com"), lit(".co.uk"), lit(".io"), lit(".org"), lit(".com.au")),
      (id % 5).cast("int") + 1)
    val proto = when(id % 7 === 0, "http").otherwise("https")
    val port = when(id % 11 === 0, ":8443").otherwise("")
    val qs = when(id % 3 === 0, concat(lit("?ref="), (id % 9).cast("string")))
      .otherwise("")
    d.select(id,
      concat(proto, lit("://"), sub, col("source"), suffix, port,
        lit("/"), col("lang"), lit("/"), id.cast("string"), qs).as("url"),
      col("n_chars"))
  }

  val q90DomainCap: Q = (s, dir) => {
    val parts = Web.urlParts(col("url")).map {
      case ("path", c)  => c.as("url_path")
      case ("query", c) => c.as("url_query")
      case (n, c)       => c.as(n)
    }
    val df = webDocs(s, dir)
      .select(col("doc_id") +: col("n_chars") +: parts: _*)
      .withColumn("domain", Web.registrableDomain(col("host")))
    Web.domainDocCap(Web.blocklistFilter(df, "domain", q90Blocked), "domain",
      Seq(col("n_chars").desc, col("doc_id").asc), cap = 3,
      saltKey = Some(col("doc_id")))
      .select(col("doc_id"), col("proto"), col("host"), col("port"),
        col("url_path"), col("url_query"), col("domain"), col("dom_rank"))
  }
  val q90Sql: String = s"""
    WITH w AS (SELECT doc_id,
        (CASE WHEN doc_id % 7 = 0 THEN 'http' ELSE 'https' END) || '://'
        || (['', 'www.', 'cdn.', 'a.b.'])[CAST(doc_id % 4 AS INT) + 1]
        || source
        || (['.com', '.co.uk', '.io', '.org', '.com.au'])[CAST(doc_id % 5 AS INT) + 1]
        || (CASE WHEN doc_id % 11 = 0 THEN ':8443' ELSE '' END)
        || '/' || lang || '/' || CAST(doc_id AS VARCHAR)
        || (CASE WHEN doc_id % 3 = 0 THEN '?ref=' || CAST(doc_id % 9 AS VARCHAR)
            ELSE '' END) AS url,
        n_chars
      FROM documents),
    p AS (SELECT doc_id, n_chars,
        regexp_extract(url, '^([a-z]+)://', 1) AS proto,
        regexp_extract(url, '^[a-z]+://([^/:?#]+)', 1) AS host,
        CAST(NULLIF(regexp_extract(url, '^[a-z]+://[^/:?#]*:([0-9]+)', 1), '')
          AS INT) AS port,
        regexp_extract(url, '^[a-z]+://[^/?#]+(/[^?#]*)', 1) AS url_path,
        NULLIF(regexp_extract(url, '[?](.*)$$', 1), '') AS url_query
      FROM w),
    d AS (SELECT *, string_split(host, '.') AS l,
        l[-2] || '.' || l[-1] AS tail2,
        CASE WHEN len(l) >= 3
               AND l[-2] || '.' || l[-1] IN ('co.uk', 'org.uk', 'ac.uk',
                 'gov.uk', 'com.au', 'net.au', 'co.jp', 'co.in', 'com.br',
                 'com.cn')
             THEN l[-3] || '.' || l[-2] || '.' || l[-1]
             WHEN len(l) >= 2 THEN l[-2] || '.' || l[-1]
             ELSE host END AS domain
      FROM p),
    r AS (SELECT doc_id, proto, host, port, url_path, url_query, domain,
        CAST(row_number() OVER (PARTITION BY domain
          ORDER BY n_chars DESC, doc_id) AS INT) AS dom_rank
      FROM d
      WHERE domain NOT IN ('src5.com', 'src1.co.uk', 'src7.io'))
    SELECT * FROM r WHERE dom_rank <= 3"""

  // ————————————————————————————— Unicode-normalized exact dedup (q91)
  // (exact dedup that is actually exact on web text: NFC via the native
  //  UnicodeNormalize kernel before the canonical fingerprint, so
  //  combining-accent vs precomposed variants — and singletons like
  //  U+2126 OHM vs U+03A9 OMEGA — hash to one group. Both sides decorate
  //  the corpus with per-doc NFC-sensitive prefixes (combining sequence /
  //  precomposed / singleton); the oracle normalizes with DuckDB's
  //  independent utf8proc nfc_normalize — a kernel that skipped or
  //  mis-ordered normalization (e.g. lower before NFC) hash-mismatches
  //  every decorated fingerprint.)
  val q91NormalizedDedup: Q = (s, dir) => {
    val d = Tables.documents(s, dir)
    val prefix = when(col("doc_id") % 3 === 0, lit("Cafe\u0301 "))
      .when(col("doc_id") % 3 === 1, lit("Caf\u00e9 "))
      .otherwise(lit("\u2126 "))
    Dedup.exactGroupsNormalized(
      d.withColumn("text", concat(prefix, col("text"))), "text", "doc_id")
  }
  val q91Sql: String = """
    WITH t AS (SELECT doc_id,
        (CASE WHEN doc_id % 3 = 0 THEN 'Cafe' || chr(769) || ' '
              WHEN doc_id % 3 = 1 THEN 'Caf' || chr(233) || ' '
              ELSE chr(8486) || ' ' END) || text AS text
      FROM documents)
    SELECT md5(trim(regexp_replace(lower(nfc_normalize(text)), '\s+', ' ', 'g'))) AS fp,
      min(doc_id) AS keeper, count(*) AS group_size
    FROM t GROUP BY 1"""

  // ————————————————————————————— RAG-style overlapping chunking (q92)
  // (fixed 32-token windows every 24 tokens — 25% overlap — per doc;
  //  narrow generator, no shuffle. The oracle re-derives start fan-out,
  //  slicing, and the short-tail rule with DuckDB list machinery.)
  val q92ChunkDocs: Q = (s, dir) =>
    graft.ops.Sampling.chunkDocuments(
      Tables.documents(s, dir), "text", "doc_id", chunk = 32, stride = 24)
  val q92Sql: String = """
    WITH d AS (SELECT doc_id, string_split(lower(text), ' ') AS w FROM documents),
    st AS (SELECT doc_id, w, unnest(range(0, len(w), 24)) AS start FROM d)
    SELECT doc_id AS id,
      CAST(start // 24 AS BIGINT) AS chunk_id,
      CAST(start AS BIGINT) AS start_token,
      array_to_string(list_slice(w, start + 1, start + 32), ' ') AS chunk_text,
      CAST(least(len(w) - start, 32) AS BIGINT) AS n_tokens
    FROM st"""

  // ————————————————————————————— linear quality model scoring (q93)
  // (fastText-shaped classifier scored in-plan: quality-feature linear
  //  term + mean hashed-token weight over the md5 lattice, sigmoid
  //  rounded 6 d.p., exact z>0 decision. The oracle re-derives every
  //  feature, the 64-entry weight lookup per token, and the SAME
  //  addition order — IEEE doubles make same-order sums bit-identical,
  //  so only the sigmoid needs the rounding guard.)
  val q93QualityModel: Q = (s, dir) =>
    TextOps.linearQualityModel(Tables.documents(s, dir), "text", "doc_id")
  val q93Sql: String = {
    val weights = TextOps.defaultTokenWeights.mkString("[", ", ", "]")
    s"""
    WITH d AS (SELECT doc_id, lower(text) AS t, string_split(lower(text), ' ') AS w
               FROM documents),
    m AS (SELECT doc_id, w,
        length(regexp_replace(t, '[^a-z]', '', 'g'))
          / CAST(length(t) AS DOUBLE) AS alpha_ratio,
        length(regexp_replace(t, '[a-z0-9 ]', '', 'g'))
          / CAST(length(t) AS DOUBLE) AS punct_ratio,
        len(regexp_extract_all(t, '\\b(the|and|of|to|a|in|is|that)\\b'))
          / CAST(len(w) AS DOUBLE) AS stopword_ratio,
        CAST(len(w) AS BIGINT) AS n_words
      FROM d),
    tk AS (SELECT doc_id, alpha_ratio, punct_ratio, stopword_ratio, n_words,
        list_sum(list_transform(w, x ->
          ($weights)[CAST(('0x' || substr(md5(x), 1, 4)) AS BIGINT) % 64 + 1]))
          / len(w) AS tok
      FROM m),
    z AS (SELECT doc_id,
        tok + (-1.0 + 2.0 * alpha_ratio + 3.0 * stopword_ratio
               + -4.0 * punct_ratio + 0.5 * (n_words / 100.0)) AS zv
      FROM tk)
    SELECT doc_id, round(1.0 / (1.0 + exp(-zv)), 6) AS score, zv > 0 AS keep
    FROM z"""
  }

  // ————————————————————————————— corpus report card (q94)
  // (the one-table health summary a curation run publishes per source:
  //  volume, token mass, exact-dup load, model pass rate, mean score.
  //  The oracle re-derives the whole composition — fingerprints, dup
  //  attribution, the q93 model chain, and the grouped rollup.)
  val q94CorpusReport: Q = (s, dir) =>
    graft.ops.Reporting.corpusReport(Tables.documents(s, dir), "text", "doc_id", "source")
  val q94Sql: String = {
    val weights = TextOps.defaultTokenWeights.mkString("[", ", ", "]")
    s"""
    WITH d AS (SELECT doc_id, source, lower(text) AS t,
        string_split(lower(text), ' ') AS w FROM documents),
    f AS (SELECT doc_id, source,
        md5(trim(regexp_replace(t, '\\s+', ' ', 'g'))) AS fp,
        CAST(len(w) AS BIGINT) AS n_tok
      FROM d),
    g AS (SELECT fp, min(doc_id) AS keeper FROM f GROUP BY 1),
    m AS (SELECT doc_id, w,
        length(regexp_replace(t, '[^a-z]', '', 'g'))
          / CAST(length(t) AS DOUBLE) AS alpha_ratio,
        length(regexp_replace(t, '[a-z0-9 ]', '', 'g'))
          / CAST(length(t) AS DOUBLE) AS punct_ratio,
        len(regexp_extract_all(t, '\\b(the|and|of|to|a|in|is|that)\\b'))
          / CAST(len(w) AS DOUBLE) AS stopword_ratio,
        CAST(len(w) AS BIGINT) AS n_words
      FROM d),
    tk AS (SELECT doc_id, alpha_ratio, punct_ratio, stopword_ratio, n_words,
        list_sum(list_transform(w, x ->
          ($weights)[CAST(('0x' || substr(md5(x), 1, 4)) AS BIGINT) % 64 + 1]))
          / len(w) AS tok
      FROM m),
    z AS (SELECT doc_id,
        tok + (-1.0 + 2.0 * alpha_ratio + 3.0 * stopword_ratio
               + -4.0 * punct_ratio + 0.5 * (n_words / 100.0)) AS zv
      FROM tk),
    sc AS (SELECT doc_id, round(1.0 / (1.0 + exp(-zv)), 6) AS score,
        zv > 0 AS keep FROM z)
    SELECT f.source, count(*) AS n_docs,
      CAST(sum(n_tok) AS BIGINT) AS n_tokens,
      count(*) FILTER (f.doc_id <> g.keeper) AS n_dups,
      count(*) FILTER (sc.keep) AS n_keep,
      round(avg(sc.score), 6) AS mean_score
    FROM f JOIN g USING (fp) JOIN sc USING (doc_id)
    GROUP BY 1"""
  }

  // ————————————————————————————— temperature mixture sampling (q95)
  // (the √-count data-mixing rule: group weight c^0.5, keep rate
  //  min(1, target·w/Σw/c), md5-lattice keeps. sqrt because IEEE
  //  correctly-rounds it on every engine — pow has libm freedom — and
  //  Σw folds in group-name order on BOTH sides (driver-side here,
  //  ordered list_sum there): summation order is part of the contract
  //  when the sum feeds a keep-rate boundary compare.)
  val q95TemperatureMix: Q = (s, dir) =>
    graft.ops.Sampling.temperatureSample(
      Tables.documents(s, dir), "doc_id", "source", targetTotal = 300)
  val q95Sql: String = """
    WITH c AS (SELECT source AS g, count(*) AS c FROM documents GROUP BY 1),
    s AS (SELECT list_sum(list(sqrt(CAST(c AS DOUBLE)) ORDER BY g)) AS sumw
          FROM c),
    r AS (SELECT g, least(1.0,
            300 * sqrt(CAST(c AS DOUBLE)) / (SELECT sumw FROM s) / c) AS rate
          FROM c)
    SELECT d.doc_id, d.source, round(r.rate, 6) AS rate
    FROM documents d JOIN r ON r.g = d.source
    WHERE CAST(('0x' || substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 4)) AS BIGINT)
          < r.rate * 65536"""

  // ————————————————————————————— token heavy hitters (q96)
  // (Spark's native approx_top_k frequent-items sketch — map-side
  //  sketch merge, zero token-keyed shuffle — run in its exact regime
  //  (tracked capacity above the corpus vocabulary), deterministically
  //  re-ranked (count desc, token). The oracle is the exact groupBy
  //  histogram: any sketch undercount would hash-mismatch.)
  val q96HeavyHitters: Q = (s, dir) =>
    TextOps.heavyHitters(Tables.documents(s, dir), "text", topK = 10)
  val q96Sql: String = """
    WITH t AS (SELECT unnest(string_split(lower(text), ' ')) AS token
               FROM documents),
    c AS (SELECT token, CAST(count(*) AS BIGINT) AS n FROM t GROUP BY 1),
    r AS (SELECT token, n,
        CAST(row_number() OVER (ORDER BY n DESC, token) AS INT) AS rank
      FROM c)
    SELECT token, n, rank FROM r WHERE rank <= 10"""

  // ————————————————————————————— cross-corpus near-dup pairs
  // (the ingest question: which BATCH documents (odd ids) near-duplicate
  //  an already-accepted CORPUS document (even ids)? Band candidates
  //  between the corpora + exact Jaccard on candidates; the oracle
  //  re-derives banding for both sides and the two-sided verification)
  private val crossBandsSql: String = """
    WITH d AS (SELECT doc_id, string_split(lower(text), ' ') AS w
               FROM documents WHERE doc_id < 1000),
    idx AS (SELECT doc_id, w, unnest(range(1, len(w) - 1)) AS i FROM d),
    sh AS (SELECT DISTINCT doc_id, w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS shingle
           FROM idx),
    hx AS (SELECT doc_id, unnest(range(0, 12)) AS i, shingle FROM sh),
    sigs AS (SELECT doc_id, i,
               min(md5(CAST(i AS VARCHAR) || '|' || shingle)) AS sig
             FROM hx GROUP BY 1, 2),
    bands AS (SELECT doc_id, CAST(i // 3 AS INT) AS band,
                md5(max(CASE WHEN i % 3 = 0 THEN sig END)
                 || max(CASE WHEN i % 3 = 1 THEN sig END)
                 || max(CASE WHEN i % 3 = 2 THEN sig END)) AS band_sig
              FROM sigs GROUP BY 1, 2),
    cand AS (SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
             FROM bands x JOIN bands y
               ON x.band = y.band AND x.band_sig = y.band_sig
             WHERE x.doc_id % 2 = 1 AND y.doc_id % 2 = 0),
    sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY 1),
    inter AS (SELECT c.a, c.b, count(*) AS inter
              FROM cand c
              JOIN sh x ON x.doc_id = c.a
              JOIN sh y ON y.doc_id = c.b AND y.shingle = x.shingle
              GROUP BY 1, 2),
    pairs AS (SELECT a, b, jaccard FROM (
        SELECT a, b, inter / CAST(sa.n_sh + sb.n_sh - inter AS DOUBLE) AS jaccard
        FROM inter JOIN sizes sa ON sa.doc_id = a JOIN sizes sb ON sb.doc_id = b)
      WHERE jaccard >= 0.5)"""

  val q65CrossCorpus: Q = (s, dir) => {
    val docs = Tables.documents(s, dir).filter(col("doc_id") < 1000)
    Dedup.crossCorpusNearDupPairs(
      docs.filter(col("doc_id") % 2 === 1), docs.filter(col("doc_id") % 2 === 0),
      "text", "doc_id", shingleN = 3, numHashes = 12, rowsPerBand = 3,
      threshold = 0.5)
  }
  val q65Sql: String = crossBandsSql + """
    SELECT a, b, jaccard FROM pairs"""

  // ————————————————————————————— batch admission against the band index
  // (same semantics through the MATERIALIZED index: candidates read the
  //  stored corpus band rows, verification shingles only matched docs;
  //  result = batch documents with no accepted near-dup)
  val q66DedupIngest: Q = (s, dir) => {
    val docs = Tables.documents(s, dir).filter(col("doc_id") < 1000)
    val corpus = docs.filter(col("doc_id") % 2 === 0)
    val path = graft.Staging.pathFor("graft-neardup-index", dir)
    graft.Staging.once(path)(Dedup.buildNearDupIndex(corpus, "text", "doc_id", path))
    Dedup.dedupBatchAgainstIndex(docs.filter(col("doc_id") % 2 === 1), corpus,
      path, "text", "doc_id", threshold = 0.5)
      .select(col("doc_id"))
  }
  val q66Sql: String = crossBandsSql + """
    SELECT doc_id FROM documents
    WHERE doc_id < 1000 AND doc_id % 2 = 1
      AND doc_id NOT IN (SELECT a FROM pairs)"""

  // ————————————————————————————— C4-style quality-filter composition
  // (the first stage of a corpus-cleaning pipeline: word-count band +
  //  stopword floor + alphabetic floor + predicted language, all narrow;
  //  the oracle re-derives every metric and the lang argmax in SQL)
  val q62QualityFilter: Q = (s, dir) =>
    TextOps.qualityFilter(Tables.documents(s, dir), "text",
      minWords = 30, maxWords = 120, minStopwordRatio = 0.08,
      minAlphaRatio = 0.5, lang = Some("en"))
      .select(col("doc_id"))
  val q62Sql: String = {
    val scoreExprs = TextOps.langProfiles.toSeq.sortBy(_._1).map { case (lang, ws) =>
      s"CAST(len(regexp_extract_all(lower(text), '\\b(${ws.mkString("|")})\\b')) AS BIGINT) AS score_$lang"
    }.mkString(", ")
    s"""
    WITH sc AS (SELECT doc_id, text, $scoreExprs FROM documents),
    m AS (SELECT doc_id,
        CASE WHEN greatest(score_de, score_en, score_es, score_fr) = 0 THEN 'und'
             WHEN score_de >= score_en AND score_de >= score_es AND score_de >= score_fr THEN 'de'
             WHEN score_en >= score_es AND score_en >= score_fr THEN 'en'
             WHEN score_es >= score_fr THEN 'es'
             ELSE 'fr' END AS lang_pred,
        CAST(len(string_split(lower(text), ' ')) AS BIGINT) AS n_words,
        length(regexp_replace(lower(text), '[^a-z]', '', 'g'))
          / CAST(length(lower(text)) AS DOUBLE) AS alpha_ratio,
        len(regexp_extract_all(lower(text), '\\b(the|and|of|to|a|in|is|that)\\b'))
          / CAST(len(string_split(lower(text), ' ')) AS DOUBLE) AS stopword_ratio
      FROM sc)
    SELECT doc_id FROM m
    WHERE n_words BETWEEN 30 AND 120 AND stopword_ratio >= 0.08
      AND alpha_ratio >= 0.5 AND lang_pred = 'en'"""
  }

  // ————————————————————————————— vocabulary build (top-k by count)
  // (global ranking runs over the aggregated vocabulary, never the
  //  corpus — the single-partition sort is bounded by vocab size)
  val q63Vocabulary: Q = (s, dir) =>
    TextOps.vocabulary(Tables.documents(s, dir), "text",
      minCount = 5, topK = 1000)
  val q63Sql: String = """
    WITH t AS (SELECT unnest(string_split(lower(text), ' ')) AS token
               FROM documents),
    c AS (SELECT token, count(*) AS n FROM t GROUP BY 1 HAVING count(*) >= 5),
    r AS (SELECT token, n,
            row_number() OVER (ORDER BY n DESC, token) - 1 AS token_id
          FROM c)
    SELECT token, n, CAST(token_id AS BIGINT) AS token_id
    FROM r WHERE token_id < 1000"""

  // ————————————————————————————— per-document TF-IDF top terms
  // (tokenize once: document frequency derives from the per-doc term
  //  counts; ln on the same double division in both engines, rank on
  //  the 4-d.p.-rounded score with token tiebreak)
  val q64TfIdf: Q = (s, dir) =>
    TextOps.tfidfTopTerms(Tables.documents(s, dir), "text", "doc_id", topK = 5)
      .withColumnRenamed("id", "doc_id")
  val q64Sql: String = """
    WITH tok AS (SELECT doc_id, unnest(string_split(lower(text), ' ')) AS token
                 FROM documents),
    tf AS (SELECT doc_id, token, count(*) AS tf FROM tok GROUP BY 1, 2),
    dfreq AS (SELECT token, count(*) AS doc_freq FROM tf GROUP BY 1),
    nd AS (SELECT count(*) AS n_docs FROM documents),
    scored AS (SELECT f.doc_id, f.token, f.tf,
        round(f.tf * ln(CAST(nd.n_docs AS DOUBLE) / d.doc_freq), 4) AS tfidf
      FROM tf f JOIN dfreq d ON f.token = d.token, nd),
    r AS (SELECT *, row_number() OVER
            (PARTITION BY doc_id ORDER BY tfidf DESC, token) AS rk
          FROM scored)
    SELECT doc_id, token, tf, tfidf, CAST(rk AS BIGINT) AS rk
    FROM r WHERE rk <= 5"""

  // ————————————————————————————— quantized ANN with exact re-rank
  // (int8 scalar quantization — the memory lever for an index that no
  //  longer fits: rank on the dequantized representation, re-rank the
  //  top k·3 candidates at full precision. The oracle re-derives the
  //  per-dim calibration, the code/decode arithmetic, and both ranks.)
  val q69QuantizedAnn: Q = (s, dir) => {
    val emb = Tables.embeddings(s, dir)
    val queryDf = emb.filter(col("vec_id") === 0)
      .select(Similarity.asDouble(col("embedding")).as("qvec"))
    Similarity.quantizedTopK(emb.filter(col("vec_id") > 0), queryDf,
      k = 10, rerankFactor = 3)
  }
  val q69Sql: String = """
    WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e
               FROM embeddings WHERE vec_id > 0),
    q AS (SELECT CAST(embedding AS DOUBLE[]) AS qe
          FROM embeddings WHERE vec_id = 0),
    dims AS (SELECT d, min(e[d]) AS mn, max(e[d]) AS mx
             FROM v, (SELECT unnest(range(1, 65)) AS d) GROUP BY d),
    dq AS (SELECT vec_id, d,
             CASE WHEN mx > mn
                  THEN mn + round(255 * (e[d] - mn) / (mx - mn), 0)
                       * (mx - mn) / 255
                  ELSE mn END AS x
           FROM v CROSS JOIN dims),
    dqv AS (SELECT vec_id, list(x ORDER BY d) AS dqe FROM dq GROUP BY vec_id),
    cand AS (SELECT vec_id FROM (
        SELECT dqv.vec_id,
          row_number() OVER (ORDER BY round(
            list_dot_product(dqe, qe)
              / (sqrt(list_dot_product(dqe, dqe))
                 * sqrt(list_dot_product(qe, qe))), 4) DESC, dqv.vec_id) AS rn
        FROM dqv, q)
      WHERE rn <= 30)
    SELECT v.vec_id, round(
        list_dot_product(e, qe)
        / (sqrt(list_dot_product(e, e)) * sqrt(list_dot_product(qe, qe))), 4)
      AS cos_sim
    FROM v JOIN cand ON v.vec_id = cand.vec_id, q
    ORDER BY cos_sim DESC, v.vec_id LIMIT 10"""

  // ————————————————————————————— stratified deterministic sampling
  // (corpus rebalancing: per-language keep rates over the q26 language
  //  prediction, md5-bucket stable like q53 — the oracle re-derives the
  //  language argmax, the bucket, and the per-stratum threshold)
  val q67StratifiedSample: Q = (s, dir) =>
    graft.ops.Sampling.stratifiedSample(
      Tables.documents(s, dir)
        .withColumn("lang_pred", TextOps.langId(col("text"))),
      "doc_id", "lang_pred", Seq("en" -> 20, "und" -> 100), defaultPct = 50)
      .select(col("doc_id"), col("lang_pred"))
  val q67Sql: String = {
    val scoreExprs = TextOps.langProfiles.toSeq.sortBy(_._1).map { case (lang, ws) =>
      s"CAST(len(regexp_extract_all(lower(text), '\\b(${ws.mkString("|")})\\b')) AS BIGINT) AS score_$lang"
    }.mkString(", ")
    s"""
    WITH sc AS (SELECT doc_id, text, $scoreExprs FROM documents),
    m AS (SELECT doc_id,
        CASE WHEN greatest(score_de, score_en, score_es, score_fr) = 0 THEN 'und'
             WHEN score_de >= score_en AND score_de >= score_es AND score_de >= score_fr THEN 'de'
             WHEN score_en >= score_es AND score_en >= score_fr THEN 'en'
             WHEN score_es >= score_fr THEN 'es'
             ELSE 'fr' END AS lang_pred,
        CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 4)) AS BIGINT)
          % 100 AS b
      FROM sc)
    SELECT doc_id, lang_pred FROM m
    WHERE b < CASE lang_pred WHEN 'en' THEN 20 WHEN 'und' THEN 100 ELSE 50 END"""
  }

  // ————————————————————————————— sequence packing (token-budget bins)
  // (stream-chunking semantics: per md5 shard, documents lie head-to-
  //  tail in id order and belong to the budget window their first token
  //  lands in — the parallel, deterministic shape of a packed-batch
  //  writer; the oracle re-derives shard, prefix sums, and windows)
  val q68PackSequences: Q = (s, dir) =>
    graft.ops.Sampling.packSequences(
      Tables.documents(s, dir)
        .select(col("doc_id"), TextOps.wsTokenCount(col("text")).as("n_tok")),
      "doc_id", "n_tok", budget = 500, numShards = 4)
  val q68Sql: String = """
    WITH t AS (SELECT doc_id AS id,
        CAST(len(string_split(lower(text), ' ')) AS BIGINT) AS tokens,
        CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 5, 4)) AS BIGINT)
          % 4 AS shard
      FROM documents),
    c AS (SELECT id, shard, tokens,
        sum(tokens) OVER (PARTITION BY shard ORDER BY id
          ROWS UNBOUNDED PRECEDING) AS cum
      FROM t)
    SELECT id, shard, CAST(floor((cum - tokens) / 500) AS BIGINT) AS bin
    FROM c"""

  // ————————————————————————————— tokenization against the vocabulary
  // (encode documents to ordered token-id arrays with OOV = -1 — the
  //  step between corpus cleaning and batch writing; the oracle rebuilds
  //  the q63 vocabulary and the order-restored encode. The id array is
  //  projected as a comma-joined string: the cross-engine compare sorts
  //  and hashes column values, which an array-typed column breaks — the
  //  csv encoding is order-preserving and lossless for BIGINT ids, so
  //  the check is exactly as strong)
  val q70TokenizeIds: Q = (s, dir) => {
    val d = Tables.documents(s, dir)
    TextOps.tokenizeToIds(d, "text", "doc_id",
      TextOps.vocabulary(d, "text", minCount = 5, topK = 1000))
      .withColumnRenamed("id", "doc_id")
      .select(col("doc_id"),
        concat_ws(",", col("token_ids").cast("array<string>")).as("token_ids_csv"))
  }
  val q70Sql: String = """
    WITH t0 AS (SELECT unnest(string_split(lower(text), ' ')) AS token
                FROM documents),
    c AS (SELECT token, count(*) AS n FROM t0 GROUP BY 1 HAVING count(*) >= 5),
    vocab AS (SELECT token, token_id FROM (
        SELECT token, row_number() OVER (ORDER BY n DESC, token) - 1 AS token_id
        FROM c)
      WHERE token_id < 1000),
    d AS (SELECT doc_id, string_split(lower(text), ' ') AS w FROM documents),
    idx AS (SELECT doc_id, w, unnest(range(1, len(w) + 1)) AS i FROM d),
    tok AS (SELECT doc_id, i, w[i] AS token FROM idx),
    ids AS (SELECT doc_id, i, COALESCE(v.token_id, -1) AS tid
            FROM tok LEFT JOIN vocab v USING (token))
    SELECT doc_id, string_agg(CAST(tid AS VARCHAR), ',' ORDER BY i)
      AS token_ids_csv
    FROM ids GROUP BY doc_id"""

  // ————————————————————————————— train/eval decontamination
  // (the leak detector: test documents sharing any 13-gram with any
  //  train document over the q53 deterministic split — long n-grams
  //  make accidental collisions impossible, so every hit is overlap)
  val q71Contamination: Q = (s, dir) =>
    Dedup.contamination(
      graft.ops.Sampling.hashSplit(Tables.documents(s, dir), "doc_id",
        Seq("train" -> 80, "val" -> 10, "test" -> 10)),
      "text", "doc_id", "split", trainSplit = "train", evalSplit = "test",
      n = 13)
  val q71Sql: String = {
    val cc = (0 until 13).map(k => s"w[i+$k]").mkString(" || ' ' || ")
    s"""
    WITH s AS (SELECT doc_id, text,
        CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 4)) AS BIGINT)
          % 100 AS b
      FROM documents),
    sp AS (SELECT doc_id, text,
        CASE WHEN b < 80 THEN 'train' WHEN b < 90 THEN 'val' ELSE 'test' END
          AS split
      FROM s),
    d AS (SELECT doc_id, split, string_split(lower(text), ' ') AS w FROM sp),
    idx AS (SELECT doc_id, split, w, unnest(range(1, len(w) - 11)) AS i FROM d),
    sh AS (SELECT DISTINCT doc_id, split, substr(md5($cc), 1, 16) AS shingle
           FROM idx)
    SELECT e.doc_id AS id, count(DISTINCT e.shingle) AS n_shared
    FROM sh e JOIN sh t ON e.shingle = t.shingle
      AND e.split = 'test' AND t.split = 'train'
    GROUP BY 1"""
  }

  // ————————————————————————————— decontamination overlap extent (q87)
  // (q71 upgraded from boolean to the policy signals real pipelines
  //  threshold on: positional hit count, longest contiguous shared
  //  stretch in words (run of consecutive shared 13-gram positions →
  //  n + run − 1), and the GPT-3-style dirty-token fraction (union of
  //  shared n-gram intervals / doc words). The oracle re-derives the
  //  runs via gaps-and-islands and coverage via a lag sweep — exactly
  //  the engine's sorted-positions fold.)
  val q87ContaminationSpans: Q = (s, dir) =>
    Dedup.contaminationSpans(
      graft.ops.Sampling.hashSplit(Tables.documents(s, dir), "doc_id",
        Seq("train" -> 80, "val" -> 10, "test" -> 10)),
      "text", "doc_id", "split", trainSplit = "train", evalSplit = "test",
      n = 13)
  val q87Sql: String = {
    val cc = (0 until 13).map(k => s"w[i+$k]").mkString(" || ' ' || ")
    s"""
    WITH s AS (SELECT doc_id, text,
        CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 4)) AS BIGINT)
          % 100 AS b
      FROM documents),
    sp AS (SELECT doc_id, text,
        CASE WHEN b < 80 THEN 'train' WHEN b < 90 THEN 'val' ELSE 'test' END
          AS split
      FROM s),
    d AS (SELECT doc_id, split, string_split(lower(text), ' ') AS w FROM sp),
    idx AS (SELECT doc_id, split, len(w) AS n_words, w,
              unnest(range(1, len(w) - 11)) AS i FROM d),
    g AS (SELECT doc_id, split, n_words, i,
            substr(md5($cc), 1, 16) AS h FROM idx),
    tr AS (SELECT DISTINCT h FROM g WHERE split = 'train'),
    ev AS (SELECT doc_id, n_words, i AS pos FROM g
           WHERE split = 'test' AND h IN (SELECT h FROM tr)),
    lg AS (SELECT doc_id, n_words, pos,
             lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) AS pp,
             pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS grp
           FROM ev),
    runs AS (SELECT doc_id, grp, count(*) AS r FROM lg GROUP BY 1, 2),
    cov AS (SELECT doc_id, any_value(n_words) AS nw, count(*) AS n_hits,
              sum(CASE WHEN pp IS NULL THEN 13
                       ELSE least(13, pos - pp) END) AS covered
            FROM lg GROUP BY 1),
    mx AS (SELECT doc_id, max(r) AS best FROM runs GROUP BY 1)
    SELECT c.doc_id AS id, CAST(c.n_hits AS BIGINT) AS n_hits,
      CAST(m.best + 12 AS BIGINT) AS max_shared_len,
      c.covered / CAST(c.nw AS DOUBLE) AS covered_frac
    FROM cov c JOIN mx m ON m.doc_id = c.doc_id"""
  }

  // ————————————————————————————— contamination REMOVAL (q99)
  // (the policy q87 measures for: splice every train-shared 13-gram
  //  window out of each eval doc and reassemble — leaked benchmark
  //  passages disappear, the rest of the doc keeps training. The
  //  oracle re-derives hit positions and the per-token coverage EXISTS
  //  with 1-based indexing against the engine's 0-based fold.)
  val q99Decontaminate: Q = (s, dir) =>
    Dedup.decontaminateText(
      graft.ops.Sampling.hashSplit(Tables.documents(s, dir), "doc_id",
        Seq("train" -> 80, "val" -> 10, "test" -> 10)),
      "text", "doc_id", "split", trainSplit = "train", evalSplit = "test",
      n = 13)
  val q99Sql: String = {
    val cc = (0 until 13).map(k => s"w[i+$k]").mkString(" || ' ' || ")
    s"""
    WITH s AS (SELECT doc_id, text,
        CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 4)) AS BIGINT)
          % 100 AS b
      FROM documents),
    sp AS (SELECT doc_id, text,
        CASE WHEN b < 80 THEN 'train' WHEN b < 90 THEN 'val' ELSE 'test' END
          AS split
      FROM s),
    d AS (SELECT doc_id, split, string_split(lower(text), ' ') AS w FROM sp),
    idx AS (SELECT doc_id, split, w, unnest(range(1, len(w) - 11)) AS i FROM d),
    g AS (SELECT doc_id, split, i, substr(md5($cc), 1, 16) AS h FROM idx),
    tr AS (SELECT DISTINCT h FROM g WHERE split = 'train'),
    ev AS (SELECT doc_id, i AS pos FROM g
           WHERE split = 'test' AND h IN (SELECT h FROM tr)),
    tk AS (SELECT doc_id, w, unnest(range(1, len(w) + 1)) AS i
           FROM d WHERE split = 'test'),
    kept AS (SELECT tk.doc_id, tk.i, tk.w[tk.i] AS tokn,
               NOT EXISTS (SELECT 1 FROM ev e WHERE e.doc_id = tk.doc_id
                             AND tk.i BETWEEN e.pos AND e.pos + 12) AS keep
             FROM tk)
    SELECT doc_id AS id,
      coalesce(string_agg(tokn, ' ' ORDER BY i) FILTER (keep), '') AS clean_text,
      CAST(count(*) FILTER (NOT keep) AS BIGINT) AS n_removed
    FROM kept GROUP BY doc_id"""
  }

  // ————————————————————————————— image perceptual hash (q100)
  // (aHash over REAL decoded rasters of the gradient fixture corpus —
  //  every pixel is closed-form in (id, x, y), so the oracle re-derives
  //  the ENTIRE raster, the gray sum, the 8×8 grid sample, and every
  //  hash bit in SQL; a decode that faked pixels, mis-ordered channels,
  //  or rounded the mean differently hash-mismatches. Ids 32..63 are
  //  +1-brightness copies of 0..31 — a correct aHash is bit-identical
  //  across each pair (MultimodalSpec pins that invariance).)
  val q100ImageAhash: Q = (s, dir) =>
    Multimodal.imageHashes(
      s, s.read.parquet(Multimodal.Fixtures.gradientDataset(s))).toDF()
  private def q100Sql: String = s"""
    WITH m AS (SELECT media_id
               FROM read_parquet('${Multimodal.Fixtures.gradientParquetPath}/*.parquet')),
    good AS (SELECT media_id, media_id % 32 AS base,
               CASE WHEN media_id >= 32 THEN 1 ELSE 0 END AS off,
               CAST(8 + (media_id % 32) % 9 AS INT) AS w,
               CAST(8 + ((media_id % 32) * 5) % 9 AS INT) AS h
             FROM m WHERE media_id % 17 <> 5),
    px AS (SELECT g.media_id, g.w, g.h, xs.x, ys.y,
             (((31 * g.base + 7 * xs.x + 3 * ys.y) % 255 + g.off)
            + ((7 * g.base + 5 * xs.x + 11 * ys.y) % 255 + g.off)
            + ((13 * g.base + 3 * xs.x + 5 * ys.y) % 255 + g.off)) // 3 AS gray
           FROM good g, range(0, 17) xs(x), range(0, 17) ys(y)
           WHERE xs.x < g.w AND ys.y < g.h),
    sums AS (SELECT media_id, sum(gray) AS sg FROM px GROUP BY 1),
    grid AS (SELECT g.media_id, vs.v, us.u,
               us.u * g.w // 8 AS gx, vs.v * g.h // 8 AS gy
             FROM good g, range(0, 8) vs(v), range(0, 8) us(u)),
    bits AS (SELECT gr.media_id, gr.v, gr.u,
               CASE WHEN p.gray * (p.w * p.h) > s.sg THEN '1' ELSE '0' END AS bit
             FROM grid gr
             JOIN px p ON p.media_id = gr.media_id
                      AND p.x = gr.gx AND p.y = gr.gy
             JOIN sums s ON s.media_id = gr.media_id),
    hashes AS (SELECT media_id,
                 string_agg(bit, '' ORDER BY v * 8 + u) AS ahash
               FROM bits GROUP BY 1)
    SELECT g.media_id, g.w AS width, g.h AS height, hs.ahash, true AS ok
    FROM good g JOIN hashes hs ON hs.media_id = g.media_id
    UNION ALL
    SELECT media_id, 0 AS width, 0 AS height, '' AS ahash, false AS ok
    FROM m WHERE media_id % 17 = 5"""

  // ————————————————————————————— image DCT pHash (q216)
  // (q100's aHash sibling that survives brightness/contrast shifts:
  //  32×32 integer-luma grid sample → exact fixed-point 2-D DCT over
  //  the PINNED Multimodal.DctC cosine table — the oracle interpolates
  //  those same integers as literals, so both engines run identical
  //  BIGINT algebra over the closed-form gradient rasters — → top-left
  //  8×8, bit = coef > 32nd-smallest AC coef, DC pinned '0'.)
  val q216ImagePhash: Q = (s, dir) =>
    Multimodal.imagePhashes(
      s, s.read.parquet(Multimodal.Fixtures.gradientDataset(s))).toDF()
  private def q216Sql: String = {
    val ctab = (for (k <- 0 until 8; n <- 0 until 32)
      yield s"($k, $n, ${Multimodal.DctC(k)(n)})").mkString(", ")
    s"""
    WITH ctab(k, n, c) AS (SELECT * FROM (VALUES $ctab)),
    m AS (SELECT media_id
          FROM read_parquet('${Multimodal.Fixtures.gradientParquetPath}/*.parquet')),
    good AS (SELECT media_id, media_id % 32 AS base,
               CASE WHEN media_id >= 32 THEN 1 ELSE 0 END AS off,
               CAST(8 + (media_id % 32) % 9 AS INT) AS w,
               CAST(8 + ((media_id % 32) * 5) % 9 AS INT) AS h
             FROM m WHERE media_id % 17 <> 5),
    px AS (SELECT g.media_id, g.w, g.h, xs.x, ys.y,
             (((31 * g.base + 7 * xs.x + 3 * ys.y) % 255 + g.off)
            + ((7 * g.base + 5 * xs.x + 11 * ys.y) % 255 + g.off)
            + ((13 * g.base + 3 * xs.x + 5 * ys.y) % 255 + g.off)) // 3 AS gray
           FROM good g, range(0, 17) xs(x), range(0, 17) ys(y)
           WHERE xs.x < g.w AND ys.y < g.h),
    lum AS (SELECT g.media_id, xs.i AS xi, ys.j AS yj, p.gray
            FROM good g, range(0, 32) xs(i), range(0, 32) ys(j)
            JOIN px p ON p.media_id = g.media_id
                     AND p.x = xs.i * g.w // 32 AND p.y = ys.j * g.h // 32),
    coef AS (SELECT l.media_id, cu.k AS u, cv.k AS v,
               sum(l.gray * cu.c * cv.c) AS dct
             FROM lum l
             JOIN ctab cu ON cu.n = l.xi
             JOIN ctab cv ON cv.n = l.yj
             GROUP BY 1, 2, 3),
    med AS (SELECT media_id, dct AS m FROM (
              SELECT media_id, dct, row_number() OVER (
                PARTITION BY media_id ORDER BY dct) AS rn
              FROM coef WHERE NOT (u = 0 AND v = 0)) WHERE rn = 32),
    bits AS (SELECT c.media_id, c.v, c.u,
               CASE WHEN (c.u = 0 AND c.v = 0) OR c.dct <= d.m THEN '0'
                    ELSE '1' END AS bit
             FROM coef c JOIN med d USING (media_id)),
    hashes AS (SELECT media_id, string_agg(bit, '' ORDER BY v * 8 + u) AS phash
               FROM bits GROUP BY 1)
    SELECT g.media_id, g.w AS width, g.h AS height, hs.phash, true AS ok
    FROM good g JOIN hashes hs ON hs.media_id = g.media_id
    UNION ALL
    SELECT media_id, 0 AS width, 0 AS height, '' AS phash, false AS ok
    FROM m WHERE media_id % 17 = 5"""
  }

  // ————————————————————————————— image dHash (q277)
  // (the third perceptual hash beside q100 aHash / q216 pHash: 9×8
  //  luma grid, bit = right sample brighter than left — gradient SIGN
  //  only, so exactly invariant under any monotone luma map. The
  //  oracle re-derives every sampled pixel and comparison from the
  //  closed-form gradient rasters.)
  val q277ImageDhash: Q = (s, dir) =>
    Multimodal.imageDhashes(
      s, s.read.parquet(Multimodal.Fixtures.gradientDataset(s))).toDF()
  private def q277Sql: String = s"""
    WITH m AS (SELECT media_id
               FROM read_parquet('${Multimodal.Fixtures.gradientParquetPath}/*.parquet')),
    good AS (SELECT media_id, media_id % 32 AS base,
               CASE WHEN media_id >= 32 THEN 1 ELSE 0 END AS off,
               CAST(8 + (media_id % 32) % 9 AS INT) AS w,
               CAST(8 + ((media_id % 32) * 5) % 9 AS INT) AS h
             FROM m WHERE media_id % 17 <> 5),
    px AS (SELECT g.media_id, g.w, g.h, xs.x, ys.y,
             (((31 * g.base + 7 * xs.x + 3 * ys.y) % 255 + g.off)
            + ((7 * g.base + 5 * xs.x + 11 * ys.y) % 255 + g.off)
            + ((13 * g.base + 3 * xs.x + 5 * ys.y) % 255 + g.off)) // 3 AS gray
           FROM good g, range(0, 17) xs(x), range(0, 17) ys(y)
           WHERE xs.x < g.w AND ys.y < g.h),
    bits AS (SELECT g.media_id, vs.v, us.u,
               CASE WHEN pr.gray > pl.gray THEN '1' ELSE '0' END AS bit
             FROM good g, range(0, 8) vs(v), range(0, 8) us(u)
             JOIN px pl ON pl.media_id = g.media_id
                       AND pl.x = us.u * g.w // 9 AND pl.y = vs.v * g.h // 8
             JOIN px pr ON pr.media_id = g.media_id
                       AND pr.x = (us.u + 1) * g.w // 9
                       AND pr.y = vs.v * g.h // 8),
    hashes AS (SELECT media_id,
                 string_agg(bit, '' ORDER BY v * 8 + u) AS dhash
               FROM bits GROUP BY 1)
    SELECT g.media_id, g.w AS width, g.h AS height, hs.dhash, true AS ok
    FROM good g JOIN hashes hs ON hs.media_id = g.media_id
    UNION ALL
    SELECT media_id, 0 AS width, 0 AS height, '' AS dhash, false AS ok
    FROM m WHERE media_id % 17 = 5"""

  // ————————————————————————————— letterbox crop detect (q290)
  // (solid-bar margin detection over the PLANTED letterbox corpus —
  //  reference color = pixel (0,0), a margin row/column is all-equal
  //  to it. The oracle re-derives every pixel (md5 interior, planted
  //  black frame) and replays the same first/last-content algebra.)
  val q290Letterbox: Q = (s, dir) =>
    Multimodal.letterboxDetect(
      s, s.read.parquet(Multimodal.Fixtures.letterboxDataset(s)))
  private def q290Sql: String = s"""
    WITH m AS (SELECT media_id
               FROM read_parquet('${Multimodal.Fixtures.letterboxParquetPath}/*.parquet')),
    good AS (SELECT media_id, CAST(media_id % 4 AS INT) AS tv,
               CAST((media_id // 4) % 4 AS INT) AS th
             FROM m WHERE media_id % 13 <> 3),
    px AS (SELECT g.media_id, xs.x, ys.y,
             CASE WHEN ys.y < g.tv OR ys.y >= 16 - g.tv
                    OR xs.x < g.th OR xs.x >= 24 - g.th THEN 0
                  WHEN CAST(('0x' || substr(md5('lb|' ||
                      CAST(g.media_id AS VARCHAR) || '|' ||
                      CAST(xs.x AS VARCHAR) || '|' ||
                      CAST(ys.y AS VARCHAR)), 1, 2)) AS INT) % 2 = 0
                  THEN 16777215 ELSE 8421504 END AS c
           FROM good g, range(0, 24) xs(x), range(0, 16) ys(y)),
    c00 AS (SELECT media_id, c AS c0 FROM px WHERE x = 0 AND y = 0),
    rws AS (SELECT p.media_id, p.y,
              max(CASE WHEN p.c <> c.c0 THEN 1 ELSE 0 END) AS nb
            FROM px p JOIN c00 c USING (media_id) GROUP BY 1, 2),
    cls AS (SELECT p.media_id, p.x,
              max(CASE WHEN p.c <> c.c0 THEN 1 ELSE 0 END) AS nb
            FROM px p JOIN c00 c USING (media_id) GROUP BY 1, 2),
    rt AS (SELECT media_id,
             CAST(coalesce(min(CASE WHEN nb = 1 THEN y END), 16) AS BIGINT)
               AS top_margin,
             CAST(CASE WHEN max(CASE WHEN nb = 1 THEN y END) IS NULL THEN 0
               ELSE 15 - max(CASE WHEN nb = 1 THEN y END) END AS BIGINT)
               AS bottom_margin
           FROM rws GROUP BY 1),
    ct AS (SELECT media_id,
             CAST(coalesce(min(CASE WHEN nb = 1 THEN x END), 24) AS BIGINT)
               AS left_margin,
             CAST(CASE WHEN max(CASE WHEN nb = 1 THEN x END) IS NULL THEN 0
               ELSE 23 - max(CASE WHEN nb = 1 THEN x END) END AS BIGINT)
               AS right_margin
           FROM cls GROUP BY 1)
    SELECT rt.media_id, CAST(24 AS BIGINT) AS w, CAST(16 AS BIGINT) AS h,
      rt.top_margin, rt.bottom_margin, ct.left_margin, ct.right_margin,
      (1000000 * greatest(0, 24 - ct.left_margin - ct.right_margin)
        * greatest(0, 16 - rt.top_margin - rt.bottom_margin)) // 384
        AS content_ppm
    FROM rt JOIN ct USING (media_id)"""

  // ————————————————————————————— color-histogram near-dup (q291)
  // (the color-signature near-dup beside the luma-structure hashes:
  //  exact 8-octant pixel counts in truncating ppm, candidate pairs
  //  blocked on the dominant octant, match at L1 ≤ 100000 ppm. The
  //  +1-brightness gradient twins land within a few boundary pixels
  //  of each other; the oracle replays counts, blocking, and L1.)
  val q291ColorHist: Q = (s, dir) =>
    Multimodal.colorHistNearDup(
      s, s.read.parquet(Multimodal.Fixtures.gradientDataset(s)))
  private def q291Sql: String = s"""
    WITH m AS (SELECT media_id
               FROM read_parquet('${Multimodal.Fixtures.gradientParquetPath}/*.parquet')),
    good AS (SELECT media_id, media_id % 32 AS base,
               CASE WHEN media_id >= 32 THEN 1 ELSE 0 END AS off,
               CAST(8 + (media_id % 32) % 9 AS INT) AS w,
               CAST(8 + ((media_id % 32) * 5) % 9 AS INT) AS h
             FROM m WHERE media_id % 17 <> 5),
    px AS (SELECT g.media_id,
             (((31 * g.base + 7 * xs.x + 3 * ys.y) % 255 + g.off) // 128) * 4
           + (((7 * g.base + 5 * xs.x + 11 * ys.y) % 255 + g.off) // 128) * 2
           + (((13 * g.base + 3 * xs.x + 5 * ys.y) % 255 + g.off) // 128)
               AS oct
           FROM good g, range(0, 17) xs(x), range(0, 17) ys(y)
           WHERE xs.x < g.w AND ys.y < g.h),
    cnt AS (SELECT media_id, oct, CAST(count(*) AS BIGINT) AS c
            FROM px GROUP BY 1, 2),
    base8 AS (SELECT g.media_id, o.oct, CAST(g.w AS BIGINT) * g.h AS n
              FROM good g, range(0, 8) o(oct)),
    ppm AS (SELECT b.media_id, b.oct,
              (1000000 * coalesce(c.c, 0)) // b.n AS ppm
            FROM base8 b LEFT JOIN cnt c
              ON b.media_id = c.media_id AND b.oct = c.oct),
    dom AS (SELECT media_id, oct AS dom FROM
              (SELECT media_id, oct, row_number() OVER
                 (PARTITION BY media_id ORDER BY ppm DESC, oct ASC) AS rn
               FROM ppm) WHERE rn = 1),
    pair AS (SELECT da.media_id AS a, db.media_id AS b
             FROM dom da JOIN dom db
               ON da.dom = db.dom AND da.media_id < db.media_id),
    l1 AS (SELECT p.a, p.b, CAST(sum(abs(pa.ppm - pb.ppm)) AS BIGINT)
               AS l1_ppm
           FROM pair p
           JOIN ppm pa ON pa.media_id = p.a
           JOIN ppm pb ON pb.media_id = p.b AND pa.oct = pb.oct
           GROUP BY 1, 2)
    SELECT a, b, l1_ppm FROM l1 WHERE l1_ppm <= 100000"""

  // ————————————————————————————— integer box-filter resize (q226)
  // (the missing multimodal verb: 8×8 thumbnails of the gradient
  //  corpus by exact integer area-average — floor-div box sums per
  //  channel — round-tripped through the REAL JDK PNG codec before the
  //  pixels are emitted. The oracle re-derives every output pixel from
  //  the closed-form rasters; junk rows contribute nothing.)
  val q226Resize: Q = (s, dir) =>
    Multimodal.resizedPixels(
      s, s.read.parquet(Multimodal.Fixtures.gradientDataset(s)),
      outW = 8, outH = 8)
  private def q226Sql: String = s"""
    WITH m AS (SELECT media_id
               FROM read_parquet('${Multimodal.Fixtures.gradientParquetPath}/*.parquet')),
    good AS (SELECT media_id, media_id % 32 AS base,
               CASE WHEN media_id >= 32 THEN 1 ELSE 0 END AS off,
               CAST(8 + (media_id % 32) % 9 AS INT) AS w,
               CAST(8 + ((media_id % 32) * 5) % 9 AS INT) AS h
             FROM m WHERE media_id % 17 <> 5),
    px AS (SELECT g.media_id, g.w, g.h, xs.x, ys.y,
             (31 * g.base + 7 * xs.x + 3 * ys.y) % 255 + g.off AS r,
             (7 * g.base + 5 * xs.x + 11 * ys.y) % 255 + g.off AS gg,
             (13 * g.base + 3 * xs.x + 5 * ys.y) % 255 + g.off AS b
           FROM good g, range(0, 17) xs(x), range(0, 17) ys(y)
           WHERE xs.x < g.w AND ys.y < g.h),
    box AS (SELECT g.media_id, xo.i AS xo, yo.j AS yo,
              sum(p.r) AS sr, sum(p.gg) AS sg, sum(p.b) AS sb,
              count(*) AS n
            FROM good g, range(0, 8) xo(i), range(0, 8) yo(j)
            JOIN px p ON p.media_id = g.media_id
              AND p.x >= xo.i * g.w // 8 AND p.x < (xo.i + 1) * g.w // 8
              AND p.y >= yo.j * g.h // 8 AND p.y < (yo.j + 1) * g.h // 8
            GROUP BY 1, 2, 3)
    SELECT media_id, CAST(xo AS BIGINT) AS x, CAST(yo AS BIGINT) AS y,
      CAST(sr // n AS BIGINT) AS r, CAST(sg // n AS BIGINT) AS g,
      CAST(sb // n AS BIGINT) AS b
    FROM box"""

  // ————————————————————————————— span-level exact dedup (q73)
  // (CCNet/C4-paragraph-style sub-document dedup with fixed 8-word
  //  spans: keep each span's first (doc_id, pos) occurrence, reassemble
  //  surviving spans per document. One digest shuffle + one reassembly
  //  shuffle — raw span text never rides the dedup exchange.)
  val q73SpanDedup: Q = (s, dir) =>
    Cleaning.spanDedup(Tables.documents(s, dir), "text", "doc_id", spanWords = 8)
  val q73Sql: String = """
    WITH d AS (SELECT doc_id, string_split(lower(text), ' ') AS w FROM documents),
    idx AS (SELECT doc_id, w,
              unnest(range(0, greatest(CAST(ceil(len(w) / 8.0) AS BIGINT), 1))) AS i
            FROM d),
    sp AS (SELECT doc_id, i AS pos,
             array_to_string(list_slice(w, i * 8 + 1, i * 8 + 8), ' ') AS span
           FROM idx),
    win AS (SELECT doc_id, pos, span,
              row_number() OVER (PARTITION BY span ORDER BY doc_id, pos) AS rn
            FROM sp),
    reb AS (SELECT doc_id, string_agg(span, ' ' ORDER BY pos) AS clean_text,
              count(*) AS n_kept
            FROM win WHERE rn = 1 GROUP BY 1),
    tot AS (SELECT doc_id,
              greatest(CAST(ceil(len(string_split(lower(text), ' ')) / 8.0) AS BIGINT), 1)
                AS n_spans
            FROM documents)
    SELECT t.doc_id AS id, coalesce(r.clean_text, '') AS clean_text,
      t.n_spans, t.n_spans - coalesce(r.n_kept, 0) AS n_dropped
    FROM tot t LEFT JOIN reb r USING (doc_id)"""

  // ————————————————————————————— repetition filter (q74)
  // (Gopher-style intra-document repetition signals — most-frequent-word
  //  fraction and duplicate-bigram fraction — computed as higher-order
  //  array expressions with ZERO exchanges; the oracle re-derives both
  //  via explode+groupBy, proving the narrow plan equals the shuffling
  //  one.)
  val q74Repetition: Q = (s, dir) =>
    Cleaning.repetitionFilter(Tables.documents(s, dir), "text", "doc_id",
      maxTopWordFrac = 0.12, maxDupBigramFrac = 0.05)
  val q74Sql: String = """
    WITH d AS (SELECT doc_id, string_split(lower(text), ' ') AS w FROM documents),
    wc AS (SELECT doc_id, unnest(w) AS word FROM d),
    topw AS (SELECT doc_id, max(c) AS topc
             FROM (SELECT doc_id, word, count(*) AS c FROM wc GROUP BY 1, 2)
             GROUP BY 1),
    bi AS (SELECT doc_id, w[i] || ' ' || w[i+1] AS bg
           FROM (SELECT doc_id, w, unnest(range(1, len(w))) AS i FROM d)),
    bis AS (SELECT doc_id, count(*) AS nb, count(DISTINCT bg) AS db
            FROM bi GROUP BY 1),
    m AS (SELECT d.doc_id AS id, CAST(len(w) AS BIGINT) AS n_words,
            CASE WHEN len(w) > 0 THEN topc / CAST(len(w) AS DOUBLE)
                 ELSE 0.0 END AS top_word_frac,
            CASE WHEN coalesce(nb, 0) > 0 THEN 1.0 - db / CAST(nb AS DOUBLE)
                 ELSE 0.0 END AS dup_bigram_frac
          FROM d JOIN topw USING (doc_id) LEFT JOIN bis USING (doc_id))
    SELECT * FROM m
    WHERE top_word_frac <= 0.12 AND dup_bigram_frac <= 0.05"""

  // ————————————————————————————— PII redaction (q75)
  // (regex scrubbing of emails / phones / IPv4 literals to typed
  //  placeholders. The corpus tables carry no PII by construction, so
  //  the query plants deterministic synthetic PII derived from customer
  //  keys — BOTH sides build the identical blob, then redact; the
  //  operator under test is the redaction, the planting just makes it
  //  fire on every row shape. Pure narrow projection, scan-speed at any
  //  scale.)
  val q75PiiRedact: Q = (s, dir) => {
    val c = col("c_custkey")
    val blob = concat(
      col("c_name"), lit(" <u"), c.cast("string"), lit("@mail.example.com> tel "),
      format_string("%02d-%03d-%03d-%04d",
        c % 90 + 10, c % 900 + 100, (c * 7) % 900 + 100, (c * 13) % 9000 + 1000),
      when(c % 5 === 0,
        concat(lit(" from 10."), (c % 256).cast("string"), lit("."),
          ((c * 3) % 256).cast("string"), lit("."), ((c * 11) % 256).cast("string")))
        .otherwise(lit("")),
      lit(" segment "), col("c_mktsegment"))
    val (redacted, nPii) = Cleaning.redactPii(blob)
    Tables.customer(s, dir)
      .select(c.as("id"), redacted.as("redacted"), nPii.as("n_pii"))
  }
  val q75Sql: String = """
    WITH b AS (SELECT c_custkey AS id,
        c_name || ' <u' || CAST(c_custkey AS VARCHAR) || '@mail.example.com> tel '
        || printf('%02d-%03d-%03d-%04d',
             c_custkey % 90 + 10, c_custkey % 900 + 100,
             (c_custkey * 7) % 900 + 100, (c_custkey * 13) % 9000 + 1000)
        || CASE WHEN c_custkey % 5 = 0
                THEN ' from 10.' || CAST(c_custkey % 256 AS VARCHAR) || '.'
                  || CAST((c_custkey * 3) % 256 AS VARCHAR) || '.'
                  || CAST((c_custkey * 11) % 256 AS VARCHAR)
                ELSE '' END
        || ' segment ' || c_mktsegment AS blob
      FROM customer)
    , st AS (SELECT id, blob,
        regexp_replace(blob,
          '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g')
          AS after_email
      FROM b),
    st2 AS (SELECT id, blob, after_email,
        regexp_replace(after_email,
          '[0-9]{2}-[0-9]{3}-[0-9]{3}-[0-9]{4}', '<PHONE>', 'g') AS after_phone
      FROM st)
    -- n_pii = replacements actually made: each pattern is counted on the
    -- progressively-redacted text, mirroring Cleaning.redactPii
    SELECT id,
      regexp_replace(after_phone, '([0-9]{1,3}\.){3}[0-9]{1,3}', '<IP>', 'g')
        AS redacted,
      CAST(len(regexp_extract_all(blob, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}'))
        + len(regexp_extract_all(after_email, '[0-9]{2}-[0-9]{3}-[0-9]{3}-[0-9]{4}'))
        + len(regexp_extract_all(after_phone, '([0-9]{1,3}\.){3}[0-9]{1,3}')) AS BIGINT)
        AS n_pii
    FROM st2"""

  // ————————————————————————————— bloom-prefiltered admission (q76)
  // (novelty admission of a batch against a seen-corpus: Spark's own
  //  BloomFilterAggregate folds the corpus keys into a bitmap — one
  //  scan, partial-aggregated — and bloom-rejected rows are admitted
  //  without touching the exact anti-join, whose probe side shrinks to
  //  dups + fpp·batch. Result is provably exact (no false negatives);
  //  the oracle IS the plain anti-join.)
  val q76BloomAdmission: Q = (s, dir) => {
    val ev = Tables.events(s, dir).select(col("event_id"),
      concat(col("user_id").cast("string"), lit("|"),
        get_json_object(col("props"), "$.k")).as("k"))
    Dedup.bloomAdmission(
      batch = ev.where(pmod(col("event_id"), lit(10)) >= 8),
      corpus = ev.where(pmod(col("event_id"), lit(10)) < 8),
      keyCol = "k", expectedItems = 100000L)
  }
  val q76Sql: String = """
    WITH ev AS (SELECT event_id,
        CAST(user_id AS VARCHAR) || '|' || json_extract_string(props, '$.k') AS k
      FROM events)
    SELECT b.event_id, b.k FROM ev b
    WHERE b.event_id % 10 >= 8
      AND NOT EXISTS (SELECT 1 FROM ev c
                      WHERE c.event_id % 10 < 8 AND c.k = b.k)"""

  // ————————————————————————————— token-budget mixture sampling (q77)
  // (data mixing: every source down-sampled toward a per-source token
  //  budget — keep rate min(1, budget/total), md5-bucket row selection,
  //  so the mixture is deterministic, engine-portable, and nested under
  //  budget growth. One tiny groupBy broadcast back + a narrow filter.)
  val q77MixtureSample: Q = (s, dir) =>
    graft.ops.Sampling.tokenBudgetSample(
      Tables.documents(s, dir).select(col("doc_id"), col("source"),
        TextOps.wsTokenCount(col("text")).as("n_tokens")),
      "doc_id", "source", "n_tokens", budgetPerGroup = 800L)
      .select(col("doc_id"), col("source"), col("n_tokens"))
  val q77Sql: String = """
    WITH t AS (SELECT doc_id, source,
        CAST(len(string_split(lower(text), ' ')) AS BIGINT) AS n_tokens
      FROM documents),
    tot AS (SELECT source, sum(n_tokens) AS total FROM t GROUP BY 1),
    r AS (SELECT t.doc_id, t.source, t.n_tokens,
            least(1.0, 800.0 / total) AS rate
          FROM t JOIN tot USING (source))
    SELECT doc_id, source, n_tokens FROM r
    WHERE CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 4)) AS BIGINT)
          < rate * 65536"""

  // ————————————————————————————— product-quantization ANN (q78)
  // (PQ with asymmetric distance computation: 8 subspaces × 32 codes, so
  //  a 64-dim float64 row scores from 8 bytes of codes via LUT lookups;
  //  exact re-rank of the top k·8. Codebooks are md5-deterministic, so
  //  the oracle re-derives the ENTIRE chain — codebook selection,
  //  argmin encoding, ADC ranking, re-rank — not just the final top-k.)
  // codebook training is per-corpus, not per-query — cache it per dir the
  // way q80 caches its index build, so repeated q78 runs measure search
  val q78PqAnn: Q = (s, dir) => {
    val emb = Tables.embeddings(s, dir)
    val queryDf = emb.filter(col("vec_id") === 0)
      .select(Similarity.asDouble(col("embedding")).as("qvec"))
    val corpus = emb.filter(col("vec_id") > 0)
    val cb = graft.Staging.once(s"pq-codebook|$dir")(
      Pq.trainCodebooks(corpus, m = 8, ksub = 32))
    Pq.pqTopKWithCodebook(corpus, cb, queryDf, k = 10, rerankFactor = 8)
  }
  val q78Sql: String = """
    WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e
               FROM embeddings WHERE vec_id > 0),
    q AS (SELECT CAST(embedding AS DOUBLE[]) AS qe,
            sqrt(list_sum(list_transform(CAST(embedding AS DOUBLE[]), x -> x * x))) AS qn
          FROM embeddings WHERE vec_id = 0),
    subs AS (SELECT unnest(range(0, 8)) AS s),
    cbsel AS (SELECT s, vec_id, e, row_number() OVER (PARTITION BY s
                ORDER BY md5(CAST(s AS VARCHAR) || '|' || CAST(vec_id AS VARCHAR))) AS j
              FROM v CROSS JOIN subs),
    cb AS (SELECT s, j, list_slice(e, s * 8 + 1, s * 8 + 8) AS cw
           FROM cbsel WHERE j <= 32),
    d2s AS (SELECT v.vec_id, cb.s, cb.j,
              list_sum(list_transform(range(1, 9),
                i -> (v.e[CAST(cb.s * 8 + i AS INT)] - cb.cw[CAST(i AS INT)])
                   * (v.e[CAST(cb.s * 8 + i AS INT)] - cb.cw[CAST(i AS INT)]))) AS d2
            FROM v CROSS JOIN cb),
    enc AS (SELECT vec_id, s, j FROM (
              SELECT vec_id, s, j,
                row_number() OVER (PARTITION BY vec_id, s ORDER BY d2, j) AS rk
              FROM d2s) WHERE rk = 1),
    lut AS (SELECT s, j,
              list_sum(list_transform(range(1, 9),
                i -> q.qe[CAST(s * 8 + i AS INT)] * cw[CAST(i AS INT)])) AS lq,
              list_sum(list_transform(range(1, 9),
                i -> cw[CAST(i AS INT)] * cw[CAST(i AS INT)])) AS ln
            FROM cb, q),
    terms AS (SELECT e.vec_id, e.s, l.lq, l.ln
              FROM enc e JOIN lut l ON l.s = e.s AND l.j = e.j),
    adc AS (SELECT vec_id,
              round(list_sum(list(lq ORDER BY s))
                / ((SELECT qn FROM q) * sqrt(list_sum(list(ln ORDER BY s)))), 4)
                AS adc
            FROM terms GROUP BY vec_id),
    cand AS (SELECT vec_id FROM adc ORDER BY adc DESC, vec_id LIMIT 80)
    SELECT v.vec_id, round(
        list_dot_product(v.e, q.qe)
        / (sqrt(list_dot_product(v.e, v.e)) * sqrt(list_dot_product(q.qe, q.qe))), 4)
        AS cos_sim
    FROM v JOIN cand USING (vec_id), q
    ORDER BY cos_sim DESC, vec_id LIMIT 10"""

  // ————————————————————————————— IVF+PQ ANN over a materialized index (q80)
  // (the production ANN layout: coarse IVF partitions × PQ codes. The
  //  searchable artifact stores (id, codes, centroid_id) only — no
  //  embeddings; a probe prunes to nProbe partitions, ADC-ranks the
  //  codes, and re-ranks the top k·3 ids against the SOURCE table at
  //  full precision. Oracle = q25's coarse assignment/probe CTEs
  //  composed with q78's deterministic PQ chain, restricted to probed
  //  buckets.)
  val q80IvfPqAnn: Q = (s, dir) => {
    val emb = Tables.embeddings(s, dir)
    val centroids = emb.filter(col("vec_id") < 16)
      .select(col("vec_id").as("cid"), Similarity.asDouble(col("embedding")).as("cvec"))
    val corpus = emb.filter(col("vec_id") >= 16)
    val queryDf = emb.filter(col("vec_id") === 0)
      .select(Similarity.asDouble(col("embedding")).as("qvec"))
    val path = graft.Staging.pathFor("graft-ivfpq-index", dir)
    graft.Staging.once(path)(
      Pq.buildIvfPqIndex(corpus, centroids, path, m = 8, ksub = 32))
    Pq.ivfPqTopKIndexed(path, centroids, corpus, queryDf, k = 10,
      nProbe = 2, rerankFactor = 3)
  }
  val q80Sql: String = """
    WITH c AS (SELECT vec_id AS cid, CAST(embedding AS DOUBLE[]) AS cv
               FROM embeddings WHERE vec_id < 16),
    v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e
          FROM embeddings WHERE vec_id >= 16),
    q AS (SELECT CAST(embedding AS DOUBLE[]) AS qe,
            sqrt(list_sum(list_transform(CAST(embedding AS DOUBLE[]), x -> x * x))) AS qn
          FROM embeddings WHERE vec_id = 0),
    asg AS (SELECT vec_id, e, cid, row_number() OVER
              (PARTITION BY vec_id ORDER BY cos DESC, cid) AS rn
            FROM (SELECT v.vec_id, v.e, c.cid,
                    list_dot_product(v.e, c.cv)
                      / (sqrt(list_dot_product(v.e, v.e))
                         * sqrt(list_dot_product(c.cv, c.cv))) AS cos
                  FROM v, c)),
    a1 AS (SELECT vec_id, e, cid FROM asg WHERE rn = 1),
    probes AS (SELECT cid FROM (
        SELECT c.cid, list_dot_product(c.cv, q.qe)
            / (sqrt(list_dot_product(c.cv, c.cv)) * sqrt(list_dot_product(q.qe, q.qe))) AS cos
        FROM c, q)
      ORDER BY cos DESC, cid LIMIT 2),
    subs AS (SELECT unnest(range(0, 8)) AS s),
    cbsel AS (SELECT s, vec_id, e, row_number() OVER (PARTITION BY s
                ORDER BY md5(CAST(s AS VARCHAR) || '|' || CAST(vec_id AS VARCHAR))) AS j
              FROM v CROSS JOIN subs),
    cb AS (SELECT s, j, list_slice(e, s * 8 + 1, s * 8 + 8) AS cw
           FROM cbsel WHERE j <= 32),
    pv AS (SELECT v.vec_id, v.e FROM v JOIN a1 USING (vec_id)
           WHERE a1.cid IN (SELECT cid FROM probes)),
    d2s AS (SELECT pv.vec_id, cb.s, cb.j,
              list_sum(list_transform(range(1, 9),
                i -> (pv.e[CAST(cb.s * 8 + i AS INT)] - cb.cw[CAST(i AS INT)])
                   * (pv.e[CAST(cb.s * 8 + i AS INT)] - cb.cw[CAST(i AS INT)]))) AS d2
            FROM pv CROSS JOIN cb),
    enc AS (SELECT vec_id, s, j FROM (
              SELECT vec_id, s, j,
                row_number() OVER (PARTITION BY vec_id, s ORDER BY d2, j) AS rk
              FROM d2s) WHERE rk = 1),
    lut AS (SELECT s, j,
              list_sum(list_transform(range(1, 9),
                i -> q.qe[CAST(s * 8 + i AS INT)] * cw[CAST(i AS INT)])) AS lq,
              list_sum(list_transform(range(1, 9),
                i -> cw[CAST(i AS INT)] * cw[CAST(i AS INT)])) AS ln
            FROM cb, q),
    terms AS (SELECT e.vec_id, e.s, l.lq, l.ln
              FROM enc e JOIN lut l ON l.s = e.s AND l.j = e.j),
    adc AS (SELECT vec_id,
              round(list_sum(list(lq ORDER BY s))
                / ((SELECT qn FROM q) * sqrt(list_sum(list(ln ORDER BY s)))), 4)
                AS adc
            FROM terms GROUP BY vec_id),
    cand AS (SELECT vec_id FROM adc ORDER BY adc DESC, vec_id LIMIT 30)
    SELECT v.vec_id, round(
        list_dot_product(v.e, q.qe)
        / (sqrt(list_dot_product(v.e, v.e)) * sqrt(list_dot_product(q.qe, q.qe))), 4)
        AS cos_sim
    FROM v JOIN cand USING (vec_id), q
    ORDER BY cos_sim DESC, vec_id LIMIT 10"""

  // ————————————————————————————— semantic dedup (q81)
  // (SemDeDup: cluster-blocked embedding dedup — pairwise cosine only
  //  within a coarse cluster, drop the larger id of an over-threshold
  //  pair. Pair space Σ cluster² not corpus²; recall is the
  //  clustering's, precision exact. Oracle reuses q25's assignment CTEs
  //  plus the pair rule.)
  val q81SemanticDedup: Q = (s, dir) => {
    val emb = Tables.embeddings(s, dir)
    val centroids = emb.filter(col("vec_id") < 16)
      .select(col("vec_id").as("cid"), Similarity.asDouble(col("embedding")).as("cvec"))
    Similarity.semanticDedup(emb.filter(col("vec_id") >= 16), centroids,
      threshold = 0.4)
  }
  val q81Sql: String = """
    WITH c AS (SELECT vec_id AS cid, CAST(embedding AS DOUBLE[]) AS cv
               FROM embeddings WHERE vec_id < 16),
    v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e
          FROM embeddings WHERE vec_id >= 16),
    asg AS (SELECT vec_id, e, cid, row_number() OVER
              (PARTITION BY vec_id ORDER BY cos DESC, cid) AS rn
            FROM (SELECT v.vec_id, v.e, c.cid,
                    list_dot_product(v.e, c.cv)
                      / (sqrt(list_dot_product(v.e, v.e))
                         * sqrt(list_dot_product(c.cv, c.cv))) AS cos
                  FROM v, c)),
    a1 AS (SELECT vec_id, e, cid FROM asg WHERE rn = 1),
    dropped AS (SELECT DISTINCT y.vec_id
                FROM a1 x JOIN a1 y
                  ON x.cid = y.cid AND x.vec_id < y.vec_id
                WHERE list_dot_product(x.e, y.e)
                    / (sqrt(list_dot_product(x.e, x.e))
                       * sqrt(list_dot_product(y.e, y.e))) >= 0.4)
    SELECT vec_id, cid AS centroid_id FROM a1
    WHERE vec_id NOT IN (SELECT vec_id FROM dropped)"""

  // ————————————————————————————— unigram log-prob scoring (q82)
  // (the CCNet LM-quality proxy, unigram member: mean token
  //  log-probability under the corpus's own unigram distribution.
  //  Rounded to 6 d.p. at the aggregate — double reassociation noise is
  //  ~1e-14, far below the rounding, so any engine reproduces it.)
  val q82UnigramLogprob: Q = (s, dir) =>
    TextOps.unigramLogProb(Tables.documents(s, dir), "text", "doc_id")
  val q82Sql: String = """
    WITH w AS (SELECT doc_id, unnest(string_split(lower(text), ' ')) AS word
               FROM documents),
    c AS (SELECT word, count(*) AS c FROM w GROUP BY 1),
    n AS (SELECT sum(c) AS n FROM c)
    SELECT doc_id AS id, round(avg(ln(c / CAST(n AS DOUBLE))), 6) AS logprob,
      count(*) AS n_words
    FROM w JOIN c USING (word), n GROUP BY doc_id"""

  // ————————————————————————————— materialized packed windows (q83)
  // (the artifact a fixed-context training loader reads: per (shard,
  //  bin), the documents' token-id streams concatenated in id order.
  //  Composes q70's vocabulary encoding with q68's deterministic window
  //  assignment; csv-encoded ids like q70 — the driver compare hashes
  //  scalar columns.)
  val q83PackedWindows: Q = (s, dir) => {
    val d = Tables.documents(s, dir)
    graft.ops.Sampling.packWindows(
      TextOps.tokenizeToIds(d, "text", "doc_id",
        TextOps.vocabulary(d, "text", minCount = 5, topK = 1000)),
      "id", "token_ids", budget = 500, numShards = 4)
      .select(col("shard"), col("bin"), col("n_docs"), col("n_tokens"),
        concat_ws(",", col("window_ids").cast("array<string>")).as("ids_csv"))
  }
  val q83Sql: String = """
    WITH t0 AS (SELECT unnest(string_split(lower(text), ' ')) AS token
                FROM documents),
    c AS (SELECT token, count(*) AS n FROM t0 GROUP BY 1 HAVING count(*) >= 5),
    vocab AS (SELECT token, token_id FROM (
        SELECT token, row_number() OVER (ORDER BY n DESC, token) - 1 AS token_id
        FROM c)
      WHERE token_id < 1000),
    d AS (SELECT doc_id, string_split(lower(text), ' ') AS w FROM documents),
    idx AS (SELECT doc_id, w, unnest(range(1, len(w) + 1)) AS i FROM d),
    tok AS (SELECT doc_id, i, w[i] AS token FROM idx),
    ids AS (SELECT doc_id, i, COALESCE(v.token_id, -1) AS tid
            FROM tok LEFT JOIN vocab v USING (token)),
    csv AS (SELECT doc_id, string_agg(CAST(tid AS VARCHAR), ',' ORDER BY i)
              AS doc_csv, count(*) AS tokens
            FROM ids GROUP BY doc_id),
    t AS (SELECT doc_id AS id, doc_csv, tokens,
        CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 5, 4)) AS BIGINT)
          % 4 AS shard
      FROM csv),
    cum AS (SELECT id, doc_csv, tokens, shard,
        sum(tokens) OVER (PARTITION BY shard ORDER BY id
          ROWS UNBOUNDED PRECEDING) AS cum
      FROM t)
    SELECT shard, CAST(floor((cum - tokens) / 500) AS BIGINT) AS bin,
      count(*) AS n_docs, CAST(sum(tokens) AS BIGINT) AS n_tokens,
      string_agg(doc_csv, ',' ORDER BY id) AS ids_csv
    FROM cum GROUP BY 1, 2"""

  // ————————————————————————————— cleaning pipeline composition (q86)
  // (quality filter → repetition filter → span dedup as ONE plan — the
  //  pre-dedup cleaning pass of a corpus build; the oracle chains the
  //  q62, q74, and q73 derivations over the shrinking survivor set)
  val q86CleanCorpus: Q = (s, dir) =>
    Cleaning.cleanCorpus(Tables.documents(s, dir), "text", "doc_id",
      lang = Some("en"), maxTopWordFrac = 0.12, maxDupBigramFrac = 0.05,
      spanWords = 8)
  val q86Sql: String = {
    val scoreExprs = TextOps.langProfiles.toSeq.sortBy(_._1).map { case (lang, ws) =>
      s"CAST(len(regexp_extract_all(lower(text), '\\b(${ws.mkString("|")})\\b')) AS BIGINT) AS score_$lang"
    }.mkString(", ")
    s"""
    WITH sc AS (SELECT doc_id, text, $scoreExprs FROM documents),
    m AS (SELECT doc_id,
        CASE WHEN greatest(score_de, score_en, score_es, score_fr) = 0 THEN 'und'
             WHEN score_de >= score_en AND score_de >= score_es AND score_de >= score_fr THEN 'de'
             WHEN score_en >= score_es AND score_en >= score_fr THEN 'en'
             WHEN score_es >= score_fr THEN 'es'
             ELSE 'fr' END AS lang_pred,
        CAST(len(string_split(lower(text), ' ')) AS BIGINT) AS n_words,
        length(regexp_replace(lower(text), '[^a-z]', '', 'g'))
          / CAST(length(lower(text)) AS DOUBLE) AS alpha_ratio,
        len(regexp_extract_all(lower(text), '\\b(the|and|of|to|a|in|is|that)\\b'))
          / CAST(len(string_split(lower(text), ' ')) AS DOUBLE) AS stopword_ratio
      FROM sc),
    clean AS (SELECT doc_id FROM m
      WHERE n_words BETWEEN 30 AND 120 AND stopword_ratio >= 0.08
        AND alpha_ratio >= 0.5 AND lang_pred = 'en'),
    d0 AS (SELECT doc_id, string_split(lower(text), ' ') AS w FROM documents
           WHERE doc_id IN (SELECT doc_id FROM clean)),
    wc AS (SELECT doc_id, unnest(w) AS word FROM d0),
    topw AS (SELECT doc_id, max(c) AS topc
             FROM (SELECT doc_id, word, count(*) AS c FROM wc GROUP BY 1, 2)
             GROUP BY 1),
    bi AS (SELECT doc_id, w[i] || ' ' || w[i+1] AS bg
           FROM (SELECT doc_id, w, unnest(range(1, len(w))) AS i FROM d0)),
    bis AS (SELECT doc_id, count(*) AS nb, count(DISTINCT bg) AS db
            FROM bi GROUP BY 1),
    rep AS (SELECT d0.doc_id FROM d0
            JOIN topw USING (doc_id) LEFT JOIN bis USING (doc_id)
            WHERE (CASE WHEN len(w) > 0 THEN topc / CAST(len(w) AS DOUBLE)
                        ELSE 0.0 END) <= 0.12
              AND (CASE WHEN coalesce(nb, 0) > 0
                        THEN 1.0 - db / CAST(nb AS DOUBLE)
                        ELSE 0.0 END) <= 0.05),
    d AS (SELECT doc_id, string_split(lower(text), ' ') AS w FROM documents
          WHERE doc_id IN (SELECT doc_id FROM rep)),
    idx AS (SELECT doc_id, w,
              unnest(range(0, greatest(CAST(ceil(len(w) / 8.0) AS BIGINT), 1))) AS i
            FROM d),
    sp AS (SELECT doc_id, i AS pos,
             array_to_string(list_slice(w, i * 8 + 1, i * 8 + 8), ' ') AS span
           FROM idx),
    win AS (SELECT doc_id, pos, span,
              row_number() OVER (PARTITION BY span ORDER BY doc_id, pos) AS rn
            FROM sp),
    reb AS (SELECT doc_id, string_agg(span, ' ' ORDER BY pos) AS clean_text,
              count(*) AS n_kept
            FROM win WHERE rn = 1 GROUP BY 1),
    tot AS (SELECT doc_id,
              greatest(CAST(ceil(len(w) / 8.0) AS BIGINT), 1) AS n_spans
            FROM d)
    SELECT t.doc_id AS id, coalesce(r.clean_text, '') AS clean_text,
      t.n_spans, t.n_spans - coalesce(r.n_kept, 0) AS n_dropped
    FROM tot t LEFT JOIN reb r USING (doc_id)"""
  }

  // ————————————————————————————— END-TO-END corpus build (q72)
  // (every pipeline stage composed the way a training-data run ships:
  //  quality filter → exact dedup → LSH near-dup clusters → split →
  //  13-gram decontamination → sequence packing. The oracle re-derives
  //  all six stages in one SQL chain — the same per-stage definitions
  //  that pass standalone as q62/q19/q61/q53/q71/q68.)
  val q72CorpusBuild: Q = (s, dir) =>
    CorpusBuild.corpus(
      Tables.documents(s, dir).filter(col("doc_id") < 1000), "text", "doc_id",
      CorpusBuild.Config(lang = Some("en"), jaccardThreshold = 0.5,
        maxBucket = 1000, packBudget = 500, packShards = 4))
  val q72Sql: String = {
    val scoreExprs = TextOps.langProfiles.toSeq.sortBy(_._1).map { case (lang, ws) =>
      s"CAST(len(regexp_extract_all(lower(text), '\\b(${ws.mkString("|")})\\b')) AS BIGINT) AS score_$lang"
    }.mkString(", ")
    val cc13 = (0 until 13).map(k => s"w[i+$k]").mkString(" || ' ' || ")
    s"""
    WITH RECURSIVE sc AS (SELECT doc_id, text, $scoreExprs
        FROM documents WHERE doc_id < 1000),
    m AS (SELECT doc_id, text,
        CASE WHEN greatest(score_de, score_en, score_es, score_fr) = 0 THEN 'und'
             WHEN score_de >= score_en AND score_de >= score_es AND score_de >= score_fr THEN 'de'
             WHEN score_en >= score_es AND score_en >= score_fr THEN 'en'
             WHEN score_es >= score_fr THEN 'es'
             ELSE 'fr' END AS lang_pred,
        CAST(len(string_split(lower(text), ' ')) AS BIGINT) AS n_words,
        length(regexp_replace(lower(text), '[^a-z]', '', 'g'))
          / CAST(length(lower(text)) AS DOUBLE) AS alpha_ratio,
        len(regexp_extract_all(lower(text), '\\b(the|and|of|to|a|in|is|that)\\b'))
          / CAST(len(string_split(lower(text), ' ')) AS DOUBLE) AS stopword_ratio
      FROM sc),
    clean AS (SELECT doc_id, text FROM m
      WHERE n_words BETWEEN 30 AND 120 AND stopword_ratio >= 0.08
        AND alpha_ratio >= 0.5 AND lang_pred = 'en'),
    fps AS (SELECT doc_id, text,
        md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS fp
      FROM clean),
    exact AS (SELECT doc_id, text FROM fps
      WHERE doc_id IN (SELECT min(doc_id) FROM fps GROUP BY fp)),
    d AS (SELECT doc_id, string_split(lower(text), ' ') AS w FROM exact),
    idx AS (SELECT doc_id, w, unnest(range(1, len(w) - 1)) AS i FROM d),
    sh AS (SELECT DISTINCT doc_id, w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS shingle
           FROM idx),
    hx AS (SELECT doc_id, unnest(range(0, 12)) AS i, shingle FROM sh),
    sigs AS (SELECT doc_id, i,
               min(md5(CAST(i AS VARCHAR) || '|' || shingle)) AS sig
             FROM hx GROUP BY 1, 2),
    bands AS (SELECT doc_id, CAST(i // 3 AS INT) AS band,
                md5(max(CASE WHEN i % 3 = 0 THEN sig END)
                 || max(CASE WHEN i % 3 = 1 THEN sig END)
                 || max(CASE WHEN i % 3 = 2 THEN sig END)) AS band_sig
              FROM sigs GROUP BY 1, 2),
    cand AS (SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
             FROM bands x JOIN bands y
               ON x.band = y.band AND x.band_sig = y.band_sig
                  AND x.doc_id < y.doc_id),
    sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY 1),
    inter AS (SELECT c.a, c.b, count(*) AS inter
              FROM cand c
              JOIN sh x ON x.doc_id = c.a
              JOIN sh y ON y.doc_id = c.b AND y.shingle = x.shingle
              GROUP BY 1, 2),
    pairs AS (SELECT a, b FROM (
        SELECT a, b, inter / CAST(sa.n_sh + sb.n_sh - inter AS DOUBLE) AS jaccard
        FROM inter JOIN sizes sa ON sa.doc_id = a JOIN sizes sb ON sb.doc_id = b)
      WHERE jaccard >= 0.5),
    edges AS (SELECT a AS src, b AS dst FROM pairs
              UNION ALL SELECT b, a FROM pairs),
    walk(node, label) AS (
      SELECT src, src FROM edges
      UNION
      SELECT e.dst, wk.label FROM walk wk JOIN edges e ON e.src = wk.node),
    clusters AS (SELECT node AS id, min(label) AS cluster FROM walk GROUP BY node),
    kept AS (SELECT doc_id, text FROM exact
      WHERE doc_id NOT IN (SELECT id FROM clusters WHERE id != cluster)),
    sp AS (SELECT doc_id, text,
        CASE WHEN b < 80 THEN 'train' WHEN b < 90 THEN 'val' ELSE 'test' END
          AS split
      FROM (SELECT doc_id, text,
          CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 4)) AS BIGINT)
            % 100 AS b
        FROM kept)),
    dd AS (SELECT doc_id, split, string_split(lower(text), ' ') AS w FROM sp),
    cidx AS (SELECT doc_id, split, w, unnest(range(1, len(w) - 11)) AS i FROM dd),
    csh AS (SELECT DISTINCT doc_id, split, substr(md5($cc13), 1, 16) AS shingle
            FROM cidx),
    contam AS (SELECT DISTINCT e.doc_id FROM csh e
      JOIN csh t ON e.shingle = t.shingle
        AND e.split = 'test' AND t.split = 'train'),
    surv AS (SELECT doc_id, split, text FROM sp
      WHERE doc_id NOT IN (SELECT doc_id FROM contam)),
    t AS (SELECT doc_id, split,
        CAST(len(string_split(lower(text), ' ')) AS BIGINT) AS tokens,
        CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 5, 4)) AS BIGINT)
          % 4 AS shard
      FROM surv),
    c AS (SELECT doc_id, split, shard, tokens,
        sum(tokens) OVER (PARTITION BY shard ORDER BY doc_id
          ROWS UNBOUNDED PRECEDING) AS cum
      FROM t)
    SELECT doc_id, split, shard, CAST(floor((cum - tokens) / 500) AS BIGINT) AS bin
    FROM c"""
  }

  // ———————————————————————————— iterative link-graph PageRank (q102)
  // (5 damped iterations over the deterministic md5 pseudo-link graph;
  //  dangling mass redistributed uniformly. The oracle unrolls the five
  //  iterations as chained CTEs with the identical double arithmetic —
  //  contributions summed as r/outdeg on both engines; 9 d.p. rounding
  //  absorbs the ~1e-15 cross-engine summation-order noise.)
  val q102Pagerank: Q = (s, dir) =>
    graft.ops.Graph.documentPageRank(Tables.documents(s, dir))
  val q102Sql: String = {
    val iterChain = (0 until 5).map { k =>
      s"""dang$k AS (SELECT coalesce(sum(r), CAST(0 AS DOUBLE)) AS d FROM r$k
                WHERE NOT EXISTS (SELECT 1 FROM deg WHERE deg.src = r$k.node)),
    r${k + 1} AS (
      SELECT n.node,
             CAST(0.15 AS DOUBLE) / nn.n + CAST(0.85 AS DOUBLE) *
               (coalesce(s.contrib, 0) + (SELECT d FROM dang$k) / nn.n) AS r
      FROM nodes n CROSS JOIN nn
      LEFT JOIN (
        SELECT e.tgt AS node, sum(r.r / deg.outdeg) AS contrib
        FROM edges e JOIN r$k r ON r.node = e.src
        JOIN deg ON deg.src = e.src
        GROUP BY e.tgt) s ON s.node = n.node)"""
    }.mkString(",\n    ")
    s"""
    WITH nodes AS (SELECT doc_id AS node FROM documents),
    nn AS (SELECT count(*) AS n FROM nodes),
    raw AS (SELECT node AS src,
              CAST(('0x' || substr(md5(CAST(node AS VARCHAR) || '|' ||
                CAST(j AS VARCHAR)), 1, 8)) AS BIGINT)
                % (SELECT n FROM nn) AS tgt
            FROM nodes, unnest(range(0, 3)) t(j)),
    edges AS (SELECT DISTINCT src, tgt FROM raw WHERE tgt <> src),
    deg AS (SELECT src, count(*) AS outdeg FROM edges GROUP BY 1),
    r0 AS (SELECT node, CAST(1.0 AS DOUBLE) / (SELECT n FROM nn) AS r FROM nodes),
    $iterChain
    SELECT node AS doc_id, round(r, 9) AS rank FROM r5"""
  }

  // ———————————————— personalized PageRank (q218)
  // (q102's seed-restart sibling: teleport AND dangling mass land on
  //  the seed set doc_id % 100 = 0 — seed-biased related-item ranking.
  //  The oracle unrolls all 5 iterations with the same restart vector;
  //  GraphSpec pins rank-mass concentration near the seed.)
  val q218PersonalizedPagerank: Q = (s, dir) => {
    val docs = Tables.documents(s, dir)
    val nodes = docs.select(col("doc_id"))
    graft.ops.Graph.personalizedPageRank(nodes, "doc_id",
      graft.ops.Graph.pseudoEdges(nodes, "doc_id", docs.count()),
      nodes.where(pmod(col("doc_id"), lit(100)) === 0), "doc_id")
      .withColumnRenamed("node", "doc_id")
  }
  private val q218Sql: String = {
    val iterChain = (0 until 5).map { k =>
      s"""dang$k AS (SELECT coalesce(sum(r), CAST(0 AS DOUBLE)) AS d FROM r$k
                WHERE NOT EXISTS (SELECT 1 FROM deg WHERE deg.src = r$k.node)),
    r${k + 1} AS (
      SELECT n.node,
             CAST(0.15 AS DOUBLE) * coalesce(sd.s, 0) + CAST(0.85 AS DOUBLE) *
               (coalesce(c.contrib, 0) + (SELECT d FROM dang$k) * coalesce(sd.s, 0)) AS r
      FROM nodes n
      LEFT JOIN seedw sd ON sd.node = n.node
      LEFT JOIN (
        SELECT e.tgt AS node, sum(r.r / deg.outdeg) AS contrib
        FROM edges e JOIN r$k r ON r.node = e.src
        JOIN deg ON deg.src = e.src
        GROUP BY e.tgt) c ON c.node = n.node)"""
    }.mkString(",\n    ")
    s"""
    WITH nodes AS (SELECT doc_id AS node FROM documents),
    nn AS (SELECT count(*) AS n FROM nodes),
    raw AS (SELECT node AS src,
              CAST(('0x' || substr(md5(CAST(node AS VARCHAR) || '|' ||
                CAST(j AS VARCHAR)), 1, 8)) AS BIGINT)
                % (SELECT n FROM nn) AS tgt
            FROM nodes, unnest(range(0, 3)) t(j)),
    edges AS (SELECT DISTINCT src, tgt FROM raw WHERE tgt <> src),
    deg AS (SELECT src, count(*) AS outdeg FROM edges GROUP BY 1),
    sn AS (SELECT count(*) AS ns FROM nodes WHERE node % 100 = 0),
    seedw AS (SELECT node, CAST(1.0 AS DOUBLE) / (SELECT ns FROM sn) AS s
              FROM nodes WHERE node % 100 = 0),
    r0 AS (SELECT n.node, coalesce(sd.s, CAST(0 AS DOUBLE)) AS r
           FROM nodes n LEFT JOIN seedw sd ON sd.node = n.node),
    $iterChain
    SELECT node AS doc_id, round(r, 9) AS rank FROM r5"""
  }

  // ———————————————— HITS hubs and authorities (q222)
  // (Kleinberg's bipartite sibling of q102 over the same pseudo-link
  //  graph: 5 rounds of a ← Eᵀh, h ← E a run UNNORMALIZED from h₀ = 1
  //  so every intermediate score is an exact BIGINT on both engines —
  //  the single max-division happens once at the end. The oracle
  //  unrolls every integer round.)
  val q222Hits: Q = (s, dir) => {
    val docs = Tables.documents(s, dir)
    val nodes = docs.select(col("doc_id"))
    graft.ops.Graph.hits(nodes, "doc_id",
      graft.ops.Graph.pseudoEdges(nodes, "doc_id", docs.count()))
      .withColumnRenamed("node", "doc_id")
  }
  private val q222Sql: String = {
    val iterChain = (0 until 5).map { k =>
      s"""a${k + 1} AS MATERIALIZED (SELECT n.node,
            CAST(coalesce(s.c, 0) AS BIGINT) AS s
          FROM nodes n LEFT JOIN (
            SELECT e.tgt AS node, sum(h.s) AS c
            FROM edges e JOIN h$k h ON h.node = e.src GROUP BY 1) s
            ON s.node = n.node),
    h${k + 1} AS MATERIALIZED (SELECT n.node,
            CAST(coalesce(s.c, 0) AS BIGINT) AS s
          FROM nodes n LEFT JOIN (
            SELECT e.src AS node, sum(a.s) AS c
            FROM edges e JOIN a${k + 1} a ON a.node = e.tgt GROUP BY 1) s
            ON s.node = n.node)"""
    }.mkString(",\n    ")
    s"""
    WITH nodes AS (SELECT doc_id AS node FROM documents),
    nn AS (SELECT count(*) AS n FROM nodes),
    raw AS (SELECT node AS src,
              CAST(('0x' || substr(md5(CAST(node AS VARCHAR) || '|' ||
                CAST(j AS VARCHAR)), 1, 8)) AS BIGINT)
                % (SELECT n FROM nn) AS tgt
            FROM nodes, unnest(range(0, 3)) t(j)),
    edges AS (SELECT DISTINCT src, tgt FROM raw WHERE tgt <> src),
    h0 AS (SELECT node, CAST(1 AS BIGINT) AS s FROM nodes),
    $iterChain,
    ma AS (SELECT CAST(max(s) AS DOUBLE) AS m FROM a5),
    mh AS (SELECT CAST(max(s) AS DOUBLE) AS m FROM h5)
    SELECT n.node AS doc_id,
      round(CAST(a5.s AS DOUBLE) / ma.m, 9) AS auth,
      round(CAST(h5.s AS DOUBLE) / mh.m, 9) AS hub
    FROM nodes n JOIN a5 ON a5.node = n.node JOIN h5 ON h5.node = n.node
    CROSS JOIN ma CROSS JOIN mh"""
  }

  // ———————————————————————————— HTML → text extraction (q103)
  // (crawl-side text extraction: deterministic HTML wrapping of the
  //  documents table — title, nav, entities, a script whose code
  //  contains a bare `<` — then the engine's script/style-first strip,
  //  entity decode (&amp; last), and whitespace collapse. Both engines
  //  run the identical regex chain; title content remains in the body
  //  by design, as in any tag-strip extractor without block scoring.)
  private val q103HtmlPrefix = "<html><head><title>Doc "
  private val q103HtmlMid =
    "</title><style>p {color: red;}</style></head><body><nav>home | sitemap</nav><p>"
  private val q103HtmlSuffix = "</p><p>1 &lt; 2 &amp;&amp; &quot;ok&quot;</p>" +
    "<script type=\"text/javascript\">if (1 < 2) { alert(\"nav\"); }</script></body></html>"
  val q103HtmlExtract: Q = (s, dir) => {
    val html = concat(lit(q103HtmlPrefix), col("doc_id").cast("string"),
      lit(q103HtmlMid), col("text"), lit(q103HtmlSuffix))
    Tables.documents(s, dir).select(col("doc_id"),
      Web.htmlTitle(html).as("title"), Web.htmlToText(html).as("body"))
      .withColumn("n_chars", length(col("body")).cast("long"))
  }
  val q103Sql: String = {
    val mk = s"'$q103HtmlPrefix' || CAST(doc_id AS VARCHAR) || '$q103HtmlMid' " +
      s"|| text || '${q103HtmlSuffix.replace("'", "''")}'"
    s"""
    WITH h AS (SELECT doc_id, $mk AS html FROM documents),
    s AS (SELECT doc_id,
        regexp_extract(html, '(?s)<title>(.*?)</title>', 1) AS title,
        trim(regexp_replace(regexp_replace(regexp_replace(regexp_replace(
             regexp_replace(regexp_replace(regexp_replace(regexp_replace(
             regexp_replace(regexp_replace(html,
          '(?s)<script[^>]*>.*?</script>', ' ', 'g'),
          '(?s)<style[^>]*>.*?</style>', ' ', 'g'),
          '<[^>]+>', ' ', 'g'),
          '&lt;', '<', 'g'), '&gt;', '>', 'g'), '&quot;', '"', 'g'),
          '&#39;', '''', 'g'), '&nbsp;', ' ', 'g'), '&amp;', '&', 'g'),
          '\\s+', ' ', 'g')) AS body
      FROM h)
    SELECT doc_id, title, body, CAST(length(body) AS BIGINT) AS n_chars FROM s"""
  }

  // ———————————————————————————— BM25 ranked retrieval (q104)
  // (Okapi BM25 top-10 per query over the postings build; scores
  //  rounded to 6 d.p. BEFORE ranking with doc_id tiebreak, so rank
  //  order never hinges on sub-rounding libm noise — q64's discipline.)
  val q104Queries: Seq[(Int, String)] = Seq(
    1 -> "spark window agg", 2 -> "hash join table", 3 -> "fast scan filter",
    4 -> "stream batch data", 5 -> "customer query sort")
  val q104Bm25: Q = (s, dir) =>
    graft.ops.Retrieval.bm25TopK(Tables.documents(s, dir), "text", "doc_id",
      q104Queries, k = 10)
  val q104Sql: String = {
    val values = q104Queries.map { case (i, t) => s"($i, '$t')" }.mkString(", ")
    s"""
    WITH tok AS (SELECT doc_id, unnest(string_split(lower(text), ' ')) AS term
                 FROM documents),
    tf AS (SELECT doc_id, term, count(*) AS tf FROM tok GROUP BY 1, 2),
    dl AS (SELECT doc_id, CAST(sum(tf) AS BIGINT) AS dl FROM tf GROUP BY 1),
    nd AS (SELECT count(*) AS n FROM documents),
    ad AS (SELECT CAST((SELECT CAST(sum(tf) AS BIGINT) FROM tf) AS DOUBLE)
             / (SELECT n FROM nd) AS avgdl),
    dfreq AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
    q(query_id, qtext) AS (VALUES $values),
    qt AS (SELECT DISTINCT query_id, term FROM
             (SELECT query_id, unnest(string_split(qtext, ' ')) AS term FROM q)),
    scored AS (
      SELECT qt.query_id, f.doc_id,
        round(sum(
          ln((CAST((SELECT n FROM nd) AS DOUBLE) - d.df + CAST(0.5 AS DOUBLE))
             / (d.df + CAST(0.5 AS DOUBLE)) + CAST(1.0 AS DOUBLE)) *
          (f.tf * (CAST(1.2 AS DOUBLE) + 1) /
           (f.tf + CAST(1.2 AS DOUBLE) *
            (1 - CAST(0.75 AS DOUBLE) +
             CAST(0.75 AS DOUBLE) * l.dl / (SELECT avgdl FROM ad))))), 6) AS score
      FROM tf f JOIN qt ON f.term = qt.term
      JOIN dfreq d ON d.term = f.term
      JOIN dl l ON l.doc_id = f.doc_id
      GROUP BY 1, 2),
    r AS (SELECT *, row_number() OVER
            (PARTITION BY query_id ORDER BY score DESC, doc_id) AS rk
          FROM scored)
    SELECT query_id, doc_id, score, CAST(rk AS BIGINT) AS rk
    FROM r WHERE rk <= 10"""
  }

  // ———————————————————————————— nDCG@10 retrieval quality (q229)
  // (the graded gate over q104's BM25 rankings: relevance = how many
  //  of the query's distinct terms the document contains (0..3, exact
  //  integers), discounts = the PINNED round(1e6/log2(r+1)) weights —
  //  no libm log on data, the Benford trick — DCG/IDCG as ppm BIGINTs
  //  and one final division. The oracle replays the q104 run, the
  //  relevance lattice, and the ideal ordering.)
  val q229Ndcg: Q = (s, dir) => {
    val docs = Tables.documents(s, dir)
    val run = graft.ops.Retrieval.bm25TopK(docs, "text", "doc_id",
      q104Queries, k = 10).select(col("query_id"), col("doc_id"), col("rk"))
    val qt = q104Queries.flatMap { case (q, t) =>
      t.split(" ").distinct.map(q -> _) }
    import s.implicits._
    val qterms = broadcast(qt.toDF("query_id", "term"))
    val rels = docs
      .select(col("doc_id"), explode(graft.ops.TextOps.words(col("text")))
        .as("term")).distinct()
      .join(qterms, "term")
      .groupBy("query_id", "doc_id").agg(count(lit(1)).as("rel"))
    graft.ops.Evaluation.ndcgAtK(run, rels, k = 10)
  }
  private val q229Sql: String = {
    val wvals = graft.ops.Evaluation.ndcgWeightsPpm
      .map { case (r, w) => s"($r, $w)" }.mkString(", ")
    s"""
    WITH run AS (SELECT query_id, doc_id, rk FROM (${q104Sql})),
    q(query_id, qtext) AS (VALUES ${
      q104Queries.map { case (i, t) => s"($i, '$t')" }.mkString(", ")}),
    qt AS (SELECT DISTINCT query_id, term FROM
             (SELECT query_id, unnest(string_split(qtext, ' ')) AS term
              FROM q)),
    dt AS (SELECT DISTINCT doc_id,
             unnest(string_split(lower(text), ' ')) AS term FROM documents),
    rels AS (SELECT qt.query_id, dt.doc_id, count(*) AS rel
             FROM dt JOIN qt USING (term) GROUP BY 1, 2),
    w(rk, w_ppm) AS (VALUES $wvals),
    dcg AS (SELECT r.query_id,
              CAST(sum(coalesce(rl.rel, 0) * w.w_ppm) AS BIGINT) AS dcg_ppm
            FROM run r
            LEFT JOIN rels rl ON rl.query_id = r.query_id
                             AND rl.doc_id = r.doc_id
            JOIN w ON w.rk = r.rk
            WHERE r.rk <= 10 GROUP BY 1),
    ideal AS (SELECT query_id,
              CAST(sum(rel * w_ppm) AS BIGINT) AS idcg_ppm FROM (
                SELECT query_id, rel, row_number() OVER (
                  PARTITION BY query_id ORDER BY rel DESC, doc_id) AS rk
                FROM rels WHERE rel > 0) i
              JOIN w ON w.rk = i.rk
              WHERE i.rk <= 10 GROUP BY 1)
    SELECT d.query_id, d.dcg_ppm, i.idcg_ppm,
      round(CAST(d.dcg_ppm AS DOUBLE) / i.idcg_ppm, 6) AS ndcg
    FROM dcg d JOIN ideal i USING (query_id)"""
  }

  // ———————————————————————————— MRR@10 (q236)
  // (reciprocal rank of the first relevant hit over the same q104 BM25
  //  run and q229 relevance lattice — rr_ppm = 1e6 div first_rk, exact;
  //  a query with no relevant doc in its top-10 emits 0, not absence.)
  val q236Mrr: Q = (s, dir) => {
    val docs = Tables.documents(s, dir)
    val run = graft.ops.Retrieval.bm25TopK(docs, "text", "doc_id",
      q104Queries, k = 10).select(col("query_id"), col("doc_id"), col("rk"))
    val qt = q104Queries.flatMap { case (q, t) =>
      t.split(" ").distinct.map(q -> _) }
    import s.implicits._
    val qterms = broadcast(qt.toDF("query_id", "term"))
    val rels = docs
      .select(col("doc_id"), explode(graft.ops.TextOps.words(col("text")))
        .as("term")).distinct()
      .join(qterms, "term")
      .groupBy("query_id", "doc_id").agg(count(lit(1)).as("rel"))
    graft.ops.Evaluation.mrrAtK(run, rels, k = 10)
  }
  private val q236Sql: String = s"""
    WITH run AS (SELECT query_id, doc_id, rk FROM (${q104Sql})),
    q(query_id, qtext) AS (VALUES ${
      q104Queries.map { case (i, t) => s"($i, '$t')" }.mkString(", ")}),
    qt AS (SELECT DISTINCT query_id, term FROM
             (SELECT query_id, unnest(string_split(qtext, ' ')) AS term
              FROM q)),
    dt AS (SELECT DISTINCT doc_id,
             unnest(string_split(lower(text), ' ')) AS term FROM documents),
    rels AS (SELECT qt.query_id, dt.doc_id, count(*) AS rel
             FROM dt JOIN qt USING (term) GROUP BY 1, 2),
    firsts AS (SELECT r.query_id, CAST(min(r.rk) AS BIGINT) AS first_rk
               FROM run r JOIN rels rl ON rl.query_id = r.query_id
                                      AND rl.doc_id = r.doc_id
               WHERE r.rk <= 10 AND rl.rel > 0 GROUP BY 1),
    qs AS (SELECT DISTINCT query_id FROM run)
    SELECT qs.query_id, first_rk,
      coalesce(1000000 // first_rk, 0) AS rr_ppm
    FROM qs LEFT JOIN firsts USING (query_id)"""

  // ———————————————————————————— KMV distinct-count sketch (q109)
  // (k-minimum-values cardinality estimate per language: the mergeable
  //  bounded-memory sketch shape with arithmetic both engines reproduce
  //  bit-for-bit — HLL's estimate is engine-specific and un-oracle-able,
  //  KMV's is one integer product and one IEEE division. Groups under k
  //  distinct return exact counts; en (218 distinct at sf0.01) exercises
  //  the estimator path.)
  val q109KmvDistinct: Q = (s, dir) =>
    graft.ops.Sketches.kmvDistinct(Tables.documents(s, dir), "lang", "text",
      k = 64)
  val q109Sql: String = """
    WITH h AS (SELECT DISTINCT lang AS g,
        CAST(('0x' || substr(md5(text), 1, 8)) AS BIGINT) AS h
      FROM documents),
    r AS (SELECT g, h, row_number() OVER (PARTITION BY g ORDER BY h) AS rk
          FROM h),
    kk AS (SELECT g, count(*) AS n_kept, max(h) AS kth
           FROM r WHERE rk <= 64 GROUP BY 1)
    SELECT g AS lang, n_kept,
      CASE WHEN n_kept < 64 THEN CAST(n_kept AS DOUBLE)
           ELSE round(63 * 4294967296.0 / kth, 2) END AS est
    FROM kk"""

  // ———————————————————————————— positional phrase search (q111)
  // (exact phrase occurrence counting over positional postings: every
  //  token votes for its implied start pos−i; a start with all offsets
  //  present is an occurrence. All-integer; pruned to phrase terms at
  //  the broadcast join.)
  val q111Phrases: Seq[(Int, String)] = Seq(
    1 -> "hash join", 2 -> "table scan", 3 -> "value table part")
  val q111PhraseSearch: Q = (s, dir) =>
    graft.ops.Retrieval.phraseSearch(Tables.documents(s, dir), "text",
      "doc_id", q111Phrases)
  val q111Sql: String = {
    val values = q111Phrases.flatMap { case (qid, p) =>
      val ts = p.split(" ")
      ts.zipWithIndex.map { case (t, i) => s"($qid, $i, '$t', ${ts.length})" }
    }.mkString(", ")
    s"""
    WITH d AS (SELECT doc_id, string_split(lower(text), ' ') AS w
               FROM documents),
    idx AS (SELECT doc_id, w, unnest(range(1, len(w) + 1)) AS i FROM d),
    tok AS (SELECT doc_id, i - 1 AS pos, w[i] AS term FROM idx),
    qt(query_id, i, term, len) AS (VALUES $values),
    hits AS (SELECT q.query_id, t.doc_id, t.pos - q.i AS start, q.len, q.i
             FROM tok t JOIN qt q ON t.term = q.term),
    m AS (SELECT query_id, doc_id, start FROM hits
          GROUP BY query_id, doc_id, start, len
          HAVING count(DISTINCT i) = len)
    SELECT query_id, doc_id, count(*) AS n_hits FROM m GROUP BY 1, 2"""
  }

  // ———————————————————————————— URL canonicalization + dedup (q112)
  // (deterministic messy-URL fixture — uppercase scheme/host, default
  //  port, trailing slash, tracking params, fragment — canonicalized by
  //  the engine's narrow expression chain; keeper = min doc_id per
  //  canonical URL shows the dedup it enables. Both engines run the
  //  same anchored RE2-safe regexes and the same param filter+sort.)
  val q112UrlCanon: Q = (s, dir) => {
    val url = concat(
      lit("HTTPS://WWW.Site"), (col("doc_id") % 7).cast("string"),
      lit(".COM:443/Dir/Page"), (col("doc_id") % 50).cast("string"),
      when(col("doc_id") % 3 === 0, "/").otherwise(""),
      lit("?utm_source=feed&b="), (col("doc_id") % 5).cast("string"),
      lit("&a=1"),
      when(col("doc_id") % 2 === 0, "&gclid=xyz").otherwise(""),
      lit("#sec"))
    val w = org.apache.spark.sql.expressions.Window.partitionBy("canon_url")
    Tables.documents(s, dir).select(col("doc_id"), url.as("url"))
      .withColumn("canon_url", Web.canonicalizeUrl(col("url")))
      .withColumn("keeper", min("doc_id").over(w))
  }
  val q112Sql: String = """
    WITH u AS (SELECT doc_id,
        'HTTPS://WWW.Site' || CAST(doc_id % 7 AS VARCHAR) ||
        '.COM:443/Dir/Page' || CAST(doc_id % 50 AS VARCHAR) ||
        (CASE WHEN doc_id % 3 = 0 THEN '/' ELSE '' END) ||
        '?utm_source=feed&b=' || CAST(doc_id % 5 AS VARCHAR) || '&a=1' ||
        (CASE WHEN doc_id % 2 = 0 THEN '&gclid=xyz' ELSE '' END) ||
        '#sec' AS url
      FROM documents),
    n1 AS (SELECT doc_id, url, regexp_replace(url, '#.*$', '') AS nf FROM u),
    n2 AS (SELECT *,
        lower(regexp_extract(nf, '^([A-Za-z]+)://', 1)) AS scheme,
        lower(regexp_extract(nf, '^[A-Za-z]+://([^/?#]*)', 1)) AS auth0,
        regexp_extract(nf, '^[A-Za-z]+://[^/?#]*(.*)$', 1) AS rest
      FROM n1),
    n3 AS (SELECT *,
        CASE WHEN scheme = 'http' THEN regexp_replace(auth0, ':80$', '')
             WHEN scheme = 'https' THEN regexp_replace(auth0, ':443$', '')
             ELSE auth0 END AS auth,
        regexp_extract(rest, '^([^?]*)', 1) AS path0,
        regexp_extract(rest, '\?(.*)$', 1) AS q
      FROM n2),
    n4 AS (SELECT *,
        CASE WHEN path0 = '' THEN '/'
             WHEN path0 <> '/' THEN regexp_replace(path0, '/$', '')
             ELSE path0 END AS path,
        array_to_string(list_sort(list_filter(string_split(q, '&'),
          p -> NOT regexp_matches(p, '^(utm_[^=]*|gclid|fbclid)(=.*)?$')
               AND p <> '')), '&') AS params
      FROM n3)
    SELECT doc_id, url,
      scheme || '://' || auth || path ||
        CASE WHEN params = '' THEN '' ELSE '?' || params END AS canon_url,
      min(doc_id) OVER (PARTITION BY
        scheme || '://' || auth || path ||
        CASE WHEN params = '' THEN '' ELSE '?' || params END) AS keeper
    FROM n4"""

  // ———————————————————————————— bigram LM scoring (q113)
  // (Jelinek-Mercer interpolated bigram log-prob, trained on the corpus
  //  itself; identical float shape both sides — (λ·c2)/c1 + ((1−λ)·cu)/N
  //  — with the 6 d.p. mean round absorbing summation order)
  val q113BigramLogprob: Q = (s, dir) =>
    TextOps.bigramLogProb(Tables.documents(s, dir), "text", "doc_id")
  val q113Sql: String = """
    WITH d AS (SELECT doc_id, string_split(lower(text), ' ') AS w
               FROM documents),
    idx AS (SELECT doc_id, w, unnest(range(1, len(w))) AS i FROM d),
    bg AS (SELECT doc_id, w[i] AS w1, w[i + 1] AS w2 FROM idx),
    uc AS (SELECT word, count(*) AS c FROM
             (SELECT unnest(string_split(lower(text), ' ')) AS word
              FROM documents) GROUP BY 1),
    n AS (SELECT CAST(sum(c) AS BIGINT) AS n FROM uc),
    bc AS (SELECT w1, w2, count(*) AS c2 FROM bg GROUP BY 1, 2)
    SELECT doc_id AS id,
      round(avg(ln(CAST(0.75 AS DOUBLE) * bc.c2 / u1.c +
        (1 - CAST(0.75 AS DOUBLE)) * u2.c / (SELECT n FROM n))), 6)
        AS logprob2,
      count(*) AS n_bigrams
    FROM bg JOIN bc USING (w1, w2)
    JOIN uc u1 ON u1.word = bg.w1
    JOIN uc u2 ON u2.word = bg.w2
    GROUP BY doc_id"""

  // ———————————————————————————— PMI collocations (q114)
  // (pointwise mutual information over unordered word pairs within a
  //  2-token window; the score is one fixed expression over five exact
  //  integers — ln((c·N·N)/(P·c_a·c_b)) — so both engines agree
  //  bit-for-bit before the 6 d.p. round)
  val q114PmiPairs: Q = (s, dir) =>
    TextOps.pmiPairs(Tables.documents(s, dir), "text", "doc_id",
      window = 2, minPairCount = 5)
  val q114Sql: String = """
    WITH d AS (SELECT doc_id, string_split(lower(text), ' ') AS w
               FROM documents),
    tok AS (SELECT unnest(w) AS word FROM d),
    uc AS (SELECT word, count(*) AS c FROM tok GROUP BY 1),
    n AS (SELECT CAST(sum(c) AS DOUBLE) AS n FROM uc),
    idx AS (SELECT doc_id, w, unnest(range(1, len(w) + 1)) AS i FROM d),
    pr AS (SELECT least(w[i], w[i + k]) AS a, greatest(w[i], w[i + k]) AS b
           FROM idx CROSS JOIN (SELECT unnest([1, 2]) AS k) ks
           WHERE i + k <= len(w)),
    p AS (SELECT CAST(count(*) AS DOUBLE) AS p FROM pr),
    pc AS (SELECT a, b, count(*) AS c_pair FROM pr GROUP BY 1, 2
           HAVING count(*) >= 5)
    SELECT a, b, c_pair,
      round(ln(CAST(c_pair AS DOUBLE) * n.n * n.n /
        (p.p * u1.c * u2.c)), 6) AS pmi
    FROM pc
    JOIN uc u1 ON u1.word = pc.a
    JOIN uc u2 ON u2.word = pc.b
    CROSS JOIN n CROSS JOIN p"""

  // ———————————————————————————— blocked edit-distance ER (q117)
  // (entity resolution on customer names: candidates only within the
  //  7-digit-prefix block — Σ block², never n² — then exact Levenshtein
  //  ≤ 1; the id cap bounds what the oracle re-verifies)
  val q117EntityResolution: Q = (s, dir) =>
    Dedup.blockedEditDistancePairs(
      Tables.customer(s, dir).filter(col("c_custkey") < 3000),
      "c_custkey", "c_name", substring(col("c_name"), 10, 7), maxDist = 1)
  val q117Sql: String = """
    WITH c AS (SELECT c_custkey, c_name, substr(c_name, 10, 7) AS blk
               FROM customer WHERE c_custkey < 3000),
    k AS (SELECT blk FROM c GROUP BY blk HAVING count(*) <= 10000)
    SELECT a.c_custkey AS id_a, b.c_custkey AS id_b,
      CAST(levenshtein(a.c_name, b.c_name) AS BIGINT) AS dist
    FROM c a JOIN c b ON a.blk = b.blk AND a.c_custkey < b.c_custkey
    WHERE a.blk IN (SELECT blk FROM k)
      AND levenshtein(a.c_name, b.c_name) <= 1"""

  // ———————————————————————————— hybrid retrieval via RRF (q120)
  // (BM25 lexical top-10 + brute-force cosine semantic top-10 fused by
  //  reciprocal rank — score consumes only the two deterministic ranks,
  //  so no float accumulation can diverge; doc space = vec space by the
  //  testdata's id alignment)
  val q120Queries: Seq[(Int, String)] = Seq(
    1 -> "hash join", 2 -> "table scan", 3 -> "stream batch data")
  val q120HybridRrf: Q = (s, dir) => {
    val lex = graft.ops.Retrieval.bm25TopK(Tables.documents(s, dir),
        "text", "doc_id", q120Queries, k = 10)
      .select(col("query_id").cast("long").as("query_id"), col("doc_id"),
        col("rk"))
    val emb = Tables.embeddings(s, dir)
    val queries = emb.filter(col("vec_id").isin(1L, 2L, 3L))
      .select(col("vec_id").as("q_id"),
        Similarity.asDouble(col("embedding")).as("qvec"))
    val sem = Similarity.bruteForceTopKBatch(emb, queries, k = 10)
      .select(col("q_id").as("query_id"), col("vec_id").as("doc_id"),
        col("rk"))
    graft.ops.Retrieval.hybridRrf(lex, sem, kRrf = 60, k = 10)
  }
  val q120Sql: String = {
    val values = q120Queries.map { case (i, t) => s"($i, '$t')" }.mkString(", ")
    s"""
    WITH tok AS (SELECT doc_id, unnest(string_split(lower(text), ' ')) AS term
                 FROM documents),
    tf AS (SELECT doc_id, term, count(*) AS tf FROM tok GROUP BY 1, 2),
    dl AS (SELECT doc_id, CAST(sum(tf) AS BIGINT) AS dl FROM tf GROUP BY 1),
    nd AS (SELECT count(*) AS n FROM documents),
    ad AS (SELECT CAST((SELECT CAST(sum(tf) AS BIGINT) FROM tf) AS DOUBLE)
             / (SELECT n FROM nd) AS avgdl),
    dfreq AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
    q(query_id, qtext) AS (VALUES $values),
    qt AS (SELECT DISTINCT query_id, term FROM
             (SELECT query_id, unnest(string_split(qtext, ' ')) AS term FROM q)),
    scored AS (
      SELECT qt.query_id, f.doc_id,
        round(sum(
          ln((CAST((SELECT n FROM nd) AS DOUBLE) - d.df + CAST(0.5 AS DOUBLE))
             / (d.df + CAST(0.5 AS DOUBLE)) + CAST(1.0 AS DOUBLE)) *
          (f.tf * (CAST(1.2 AS DOUBLE) + 1) /
           (f.tf + CAST(1.2 AS DOUBLE) *
            (1 - CAST(0.75 AS DOUBLE) +
             CAST(0.75 AS DOUBLE) * l.dl / (SELECT avgdl FROM ad))))), 6) AS score
      FROM tf f JOIN qt ON f.term = qt.term
      JOIN dfreq d ON d.term = f.term
      JOIN dl l ON l.doc_id = f.doc_id
      GROUP BY 1, 2),
    lr AS (SELECT *, row_number() OVER
             (PARTITION BY query_id ORDER BY score DESC, doc_id) AS rk
           FROM scored),
    lex AS (SELECT CAST(query_id AS BIGINT) AS query_id, doc_id,
              CAST(rk AS BIGINT) AS rk_lex
            FROM lr WHERE rk <= 10),
    qv AS (SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qe
           FROM embeddings WHERE vec_id IN (1, 2, 3)),
    v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
    sc AS (SELECT query_id, vec_id AS doc_id,
             round(list_dot_product(e, qe)
               / (sqrt(list_dot_product(e, e)) * sqrt(list_dot_product(qe, qe))),
               4) AS cos_sim
           FROM v, qv),
    sr AS (SELECT query_id, doc_id, row_number() OVER
             (PARTITION BY query_id ORDER BY cos_sim DESC, doc_id) AS rk
           FROM sc),
    sem AS (SELECT query_id, doc_id, CAST(rk AS BIGINT) AS rk_sem
            FROM sr WHERE rk <= 10),
    f AS (SELECT coalesce(l.query_id, s.query_id) AS query_id,
            coalesce(l.doc_id, s.doc_id) AS doc_id, l.rk_lex, s.rk_sem,
            round(coalesce(1.0 / (60 + l.rk_lex), 0.0)
              + coalesce(1.0 / (60 + s.rk_sem), 0.0), 6) AS rrf
          FROM lex l FULL OUTER JOIN sem s
            ON l.query_id = s.query_id AND l.doc_id = s.doc_id),
    fr AS (SELECT *, CAST(row_number() OVER
             (PARTITION BY query_id ORDER BY rrf DESC, doc_id) AS BIGINT)
             AS rrf_rk
           FROM f)
    SELECT query_id, doc_id, rk_lex, rk_sem, rrf, rrf_rk
    FROM fr WHERE rrf_rk <= 10"""
  }

  // ———————————————————————————— embedding dimension stats (q122)
  // (per-dim profile of the vector corpus in exact milli-integer space —
  //  the q115 z-score discipline applied to whitening inputs)
  val q122DimStats: Q = (s, dir) =>
    Similarity.embeddingDimStats(Tables.embeddings(s, dir))
  val q122Sql: String = """
    WITH d AS (SELECT CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
    idx AS (SELECT e, unnest(range(1, len(e) + 1)) AS i FROM d),
    v AS (SELECT CAST(i - 1 AS BIGINT) AS dim,
            CAST(round(e[i] * 1000) AS BIGINT) AS v
          FROM idx)
    SELECT dim, count(*) AS cnt, CAST(sum(v) AS BIGINT) AS sum_mv,
      round(CAST(sum(v) AS DOUBLE) / count(*), 6) AS mean_mv,
      round(sqrt(CAST(count(*) * sum(v * v) - sum(v) * sum(v) AS DOUBLE))
        / count(*), 6) AS std_mv
    FROM v GROUP BY dim"""

  // ———————————————————————————— triangle counting (q124)
  // (clustering structure of the q102 pseudo-link graph: canonical
  //  undirected edges, ordered wedges closed by a semi-join — each
  //  triangle counted exactly once, no cross product anywhere)
  val q124Triangles: Q = (s, dir) => {
    val docs = Tables.documents(s, dir)
    graft.ops.Graph.triangleCount(
      graft.ops.Graph.pseudoEdges(docs.select(col("doc_id")), "doc_id",
        docs.count()))
  }
  val q124Sql: String = """
    WITH nodes AS (SELECT doc_id AS node FROM documents),
    nn AS (SELECT count(*) AS n FROM nodes),
    raw AS (SELECT node AS src,
              CAST(('0x' || substr(md5(CAST(node AS VARCHAR) || '|' ||
                CAST(j AS VARCHAR)), 1, 8)) AS BIGINT)
                % (SELECT n FROM nn) AS tgt
            FROM nodes, unnest(range(0, 3)) t(j)),
    edges AS (SELECT DISTINCT src, tgt FROM raw WHERE tgt <> src),
    und AS (SELECT DISTINCT least(src, tgt) AS a, greatest(src, tgt) AS b
            FROM edges),
    tri AS (SELECT e1.a AS u, e1.b AS v, e2.b AS w
            FROM und e1 JOIN und e2 ON e2.a = e1.b
            WHERE EXISTS (SELECT 1 FROM und e3
                          WHERE e3.a = e1.a AND e3.b = e2.b))
    SELECT count(*) AS n_triangles FROM tri"""

  // ———————————————————————————— image near-dup pairs (q125)
  // (4-band pigeonhole candidates over the q100 perceptual hash +
  //  exact bit_count(xor) Hamming verify; the oracle re-derives the
  //  hashes from closed-form rasters, rebuilds the 16-bit band slices,
  //  and verifies Hamming by per-position string compare — two utterly
  //  different integer paths to the same pairs. The +1-brightness
  //  copies (ids 32..63 ≡ 0..31) are guaranteed hamming-0 positives.)
  val q125ImageNearDup: Q = (s, dir) =>
    Multimodal.imageNearDupPairs(s,
      s.read.parquet(Multimodal.Fixtures.gradientDataset(s)))
  private def q125Sql: String = s"""
    WITH hx AS (SELECT media_id, ahash FROM ($q100Sql) WHERE ok),
    sl AS (SELECT media_id, t.i AS band,
             CAST(sum(CASE WHEN substr(ahash, 16 * t.i + u.j + 1, 1) = '1'
               THEN 1 << (15 - u.j) ELSE 0 END) AS BIGINT) AS sig
           FROM hx, range(0, 4) t(i), range(0, 16) u(j)
           GROUP BY 1, 2),
    kept AS (SELECT band, sig FROM sl GROUP BY band, sig
             HAVING count(*) <= 10000),
    b AS (SELECT sl.* FROM sl JOIN kept USING (band, sig)),
    cand AS (SELECT DISTINCT x.media_id AS id_a, y.media_id AS id_b
             FROM b x JOIN b y ON x.band = y.band AND x.sig = y.sig
               AND x.media_id < y.media_id),
    ham AS (SELECT c.id_a, c.id_b,
              CAST((SELECT count(*) FROM range(1, 65) p(i)
                WHERE substr(a.ahash, CAST(p.i AS INT), 1) <>
                      substr(bb.ahash, CAST(p.i AS INT), 1)) AS BIGINT)
                AS hamming
            FROM cand c JOIN hx a ON a.media_id = c.id_a
            JOIN hx bb ON bb.media_id = c.id_b)
    SELECT id_a, id_b, hamming FROM ham WHERE hamming <= 3"""

  // ———————————————————————————— trigram substring search (q128)
  // (character-trigram postings pre-filter + exact contains verify —
  //  result provably identical to the full LIKE scan the oracle runs;
  //  the postings table is the materialized artifact at scale)
  val q128Patterns: Seq[(Int, String)] = Seq(
    1 -> "window", 2 -> "hash j", 3 -> "qqqzzz")
  val q128TrigramSearch: Q = (s, dir) =>
    graft.ops.Retrieval.trigramSearch(Tables.documents(s, dir), "text",
      "doc_id", q128Patterns)
  val q128Sql: String = {
    val values = q128Patterns.map { case (i, p) => s"($i, '$p')" }.mkString(", ")
    s"""
    SELECT p.query_id, d.doc_id
    FROM documents d
    CROSS JOIN (VALUES $values) p(query_id, pattern)
    WHERE contains(lower(d.text), p.pattern)"""
  }

  // ———————————————— weighted sampling without replacement (q129)
  // (Efraimidis–Spirakis A-ES off the md5 lattice: u^(1/w) keys,
  //  top-k per language stratum, n_chars as the weight — the oracle
  //  re-derives u, the key, and the rank in DuckDB; key rounded to
  //  6 d.p. BEFORE ranking with the id tiebreak, so cross-libm pow
  //  noise cannot flip a rank on either side)
  val q129WeightedSample: Q = (s, dir) =>
    graft.ops.Sampling.weightedSample(
      Tables.documents(s, dir), "doc_id", "n_chars", "lang", k = 10)
  val q129Sql: String = """
    WITH w AS (SELECT lang AS stratum, doc_id AS id,
        CAST(n_chars AS DOUBLE) AS weight,
        round(pow((CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 4))
            AS BIGINT) + 0.5) / 65536.0,
          1.0 / n_chars), 6) AS skey
      FROM documents WHERE n_chars > 0),
    r AS (SELECT *, CAST(row_number() OVER
            (PARTITION BY stratum ORDER BY skey DESC, id) AS BIGINT) AS rk
          FROM w)
    SELECT stratum, id, weight, skey, rk FROM r WHERE rk <= 10"""

  // ———————————————— rendezvous (HRW) shard assignment (q130)
  // (argmax_i md5(id|i) over 8 shards, ties toward the lowest shard —
  //  the oracle re-derives every candidate score and takes the same
  //  argmax via a rank; minimal-movement property spec'd separately)
  val q130RendezvousShard: Q = (s, dir) =>
    graft.ops.Sampling.rendezvousShard(
      Tables.documents(s, dir), "doc_id", numShards = 8)
      .select(col("doc_id"), col("shard"))
  val q130Sql: String = """
    WITH s AS (SELECT doc_id, j,
        CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR) || '|' ||
          CAST(j AS VARCHAR)), 1, 8)) AS BIGINT) AS score
      FROM documents, range(0, 8) t(j)),
    r AS (SELECT doc_id, j, row_number() OVER
            (PARTITION BY doc_id ORDER BY score DESC, j) AS rk
          FROM s)
    SELECT doc_id, CAST(j AS BIGINT) AS shard FROM r WHERE rk = 1"""

  // ———————————————— T5-style span corruption (q131)
  // (per-token md5-lattice mask, consecutive masked tokens merge into
  //  one <extra_id_k> span, targets = sentinel-prefixed masked spans —
  //  the oracle re-derives token positions, the mask, the span index
  //  via lag + running sum, and both reassembled streams)
  val q131SpanMask: Q = (s, dir) =>
    Cleaning.spanMask(Tables.documents(s, dir), "text", "doc_id")
  val q131Sql: String = """
    WITH d AS (SELECT doc_id AS id, string_split(lower(text), ' ') AS w
               FROM documents),
    tok AS (SELECT id, CAST(i - 1 AS INT) AS pos, w[i] AS tok
            FROM (SELECT id, w, unnest(range(1, len(w) + 1)) AS i FROM d)),
    f AS (SELECT id, pos, tok,
        CAST(('0x' || substr(md5(CAST(id AS VARCHAR) || '|' ||
          CAST(pos AS VARCHAR)), 1, 4)) AS BIGINT) % 100 < 15 AS m
      FROM tok),
    g AS (SELECT *, m AND NOT coalesce(lag(m) OVER
            (PARTITION BY id ORDER BY pos), false) AS start
          FROM f),
    h AS (SELECT *, sum(CASE WHEN start THEN 1 ELSE 0 END) OVER
            (PARTITION BY id ORDER BY pos
             ROWS UNBOUNDED PRECEDING) - 1 AS k
          FROM g),
    p AS (SELECT id, pos, start,
        CASE WHEN NOT m THEN tok
             WHEN start THEN '<extra_id_' || CAST(k AS VARCHAR) || '>'
        END AS corr,
        CASE WHEN start THEN '<extra_id_' || CAST(k AS VARCHAR) || '> ' || tok
             WHEN m THEN tok END AS tgt
      FROM h)
    SELECT id,
      coalesce(string_agg(corr, ' ' ORDER BY pos), '') AS corrupted,
      coalesce(string_agg(tgt, ' ' ORDER BY pos), '') AS targets,
      CAST(sum(CASE WHEN start THEN 1 ELSE 0 END) AS BIGINT) AS n_spans
    FROM p GROUP BY id"""

  // ———————————————— grid-blocked spatial radius self-join (q132)
  // (customers placed on a deterministic md5-lattice globe, bounded to
  //  ±60° latitude; pairs within 100 km via 3×3 grid-cell candidates +
  //  exact haversine verify — the oracle is the full O(n²) cross join the
  //  grid provably loses nothing against; the threshold applies to the
  //  3 d.p.-ROUNDED distance on both sides, the q129 libm discipline)
  val q132RadiusJoin: Q = (s, dir) => {
    val pts = Tables.customer(s, dir)
      .select(col("c_custkey"),
        graft.ops.Spatial.latticeLat(col("c_custkey")).as("lat"),
        graft.ops.Spatial.latticeLon(col("c_custkey")).as("lon"))
    graft.ops.Spatial.radiusSelfJoin(pts, "c_custkey", "lat", "lon",
      radiusKm = 100.0, cellLatDeg = 1.0, cellLonDeg = 2.0)
  }
  val q132Sql: String = """
    WITH p AS (SELECT c_custkey AS id,
        -60.0 + 120.0 * ((CAST(('0x' || substr(md5('lat|' ||
            CAST(c_custkey AS VARCHAR)), 1, 4)) AS BIGINT) + 0.5)
          / 65536.0) AS lat,
        -180.0 + 360.0 * ((CAST(('0x' || substr(md5('lon|' ||
            CAST(c_custkey AS VARCHAR)), 1, 4)) AS BIGINT) + 0.5)
          / 65536.0) AS lon
      FROM customer),
    d AS (SELECT x.id AS a, y.id AS b,
        round(2.0 * 6371.0 * asin(sqrt(
          sin(radians(y.lat - x.lat) / 2) * sin(radians(y.lat - x.lat) / 2)
          + cos(radians(x.lat)) * cos(radians(y.lat))
            * sin(radians(y.lon - x.lon) / 2)
            * sin(radians(y.lon - x.lon) / 2))), 3) AS dist_km
      FROM p x JOIN p y ON x.id < y.id)
    SELECT a, b, dist_km FROM d WHERE dist_km <= 100.0"""

  // ———————————————— fixed-cost scheduler control (q000)
  // (a constant-work probe for HOST DRIFT: 12 single-stage jobs + 8
  //  two-stage shuffle jobs over ~nothing, data-independent by
  //  construction. Iterative rows like q161's star-forest loop are
  //  dominated by per-job scheduler latency, which drifted ~30%
  //  between rounds with no code change — this row turns "the host got
  //  slower" from a commit-message assertion into a measured ratio:
  //  drift = control_now / control_then, and loop-row targets adjust by
  //  it (PLANS.md methodology). Sorts first in the bench; the oracle
  //  pins the deterministic checksum so the probe cannot silently stop
  //  doing its work.)
  val q000SchedulerControl: Q = (s, _) => {
    import s.implicits._
    var acc = 0L
    var r = 1
    while (r <= 12) { acc += s.range(r, r + 1, 1, 1).count(); r += 1 }
    var k = 0
    while (k < 8) {
      acc += s.range(0, 1000, 1, 4).toDF("v")
        .groupBy(pmod(col("v"), lit(32))).count().count()
      k += 1
    }
    Seq(acc).toDF("checksum")
  }
  val q000Sql: String = "SELECT CAST(268 AS BIGINT) AS checksum"

  // ———————————————— grid-blocked DBSCAN density clusters (q161)
  // (q132's lattice globe + radius join composed into full DBSCAN:
  //  core = ε-neighborhood ≥ minPts (self included), clusters = CC over
  //  the core-core ε-graph (min-label), border joins its MINIMUM core
  //  neighbor's cluster — the under-specified DBSCAN choice pinned to an
  //  order-free rule; the oracle re-derives everything from the brute
  //  O(n²) pair join plus a recursive-CTE component walk)
  val q161Dbscan: Q = (s, dir) => {
    val pts = Tables.customer(s, dir)
      .select(col("c_custkey"),
        graft.ops.Spatial.latticeLat(col("c_custkey")).as("lat"),
        graft.ops.Spatial.latticeLon(col("c_custkey")).as("lon"))
    graft.ops.Spatial.dbscanClusters(pts, "c_custkey", "lat", "lon",
      epsKm = 200.0, minPts = 4, cellLatDeg = 2.0, cellLonDeg = 4.0)
  }
  val q161Sql: String = """
    WITH RECURSIVE p AS (SELECT c_custkey AS id,
        -60.0 + 120.0 * ((CAST(('0x' || substr(md5('lat|' ||
            CAST(c_custkey AS VARCHAR)), 1, 4)) AS BIGINT) + 0.5)
          / 65536.0) AS lat,
        -180.0 + 360.0 * ((CAST(('0x' || substr(md5('lon|' ||
            CAST(c_custkey AS VARCHAR)), 1, 4)) AS BIGINT) + 0.5)
          / 65536.0) AS lon
      FROM customer),
    pr AS (SELECT a, b FROM (
        SELECT x.id AS a, y.id AS b,
          round(2.0 * 6371.0 * asin(sqrt(
            sin(radians(y.lat - x.lat) / 2) * sin(radians(y.lat - x.lat) / 2)
            + cos(radians(x.lat)) * cos(radians(y.lat))
              * sin(radians(y.lon - x.lon) / 2)
              * sin(radians(y.lon - x.lon) / 2))), 3) AS dist_km
        FROM p x JOIN p y ON x.id < y.id)
      WHERE dist_km <= 200.0),
    sym AS (SELECT a AS id, b AS nb FROM pr UNION ALL SELECT b, a FROM pr),
    deg AS (SELECT id, count(*) AS nnb FROM sym GROUP BY 1),
    core AS (SELECT p.id FROM p LEFT JOIN deg ON deg.id = p.id
             WHERE coalesce(nnb, 0) + 1 >= 4),
    ce AS (SELECT a, b FROM pr
           WHERE a IN (SELECT id FROM core) AND b IN (SELECT id FROM core)),
    edges AS (SELECT a AS src, b AS dst FROM ce UNION ALL SELECT b, a FROM ce),
    walk(node, label) AS (
      SELECT src, src FROM edges
      UNION
      SELECT e.dst, wk.label FROM walk wk JOIN edges e ON e.src = wk.node),
    cc AS (SELECT node AS id, min(label) AS cluster FROM walk GROUP BY 1),
    corelab AS (SELECT c.id, coalesce(cc.cluster, c.id) AS cluster
                FROM core c LEFT JOIN cc ON cc.id = c.id),
    borderlab AS (SELECT s.id, min(cl.cluster) AS cluster
                  FROM sym s JOIN corelab cl ON cl.id = s.nb
                  WHERE s.id NOT IN (SELECT id FROM corelab) GROUP BY 1)
    SELECT p.id, coalesce(cl.cluster, bl.cluster) AS cluster,
      CASE WHEN cl.id IS NOT NULL THEN 'core'
           WHEN bl.id IS NOT NULL THEN 'border'
           ELSE 'noise' END AS role
    FROM p LEFT JOIN corelab cl ON cl.id = p.id
           LEFT JOIN borderlab bl ON bl.id = p.id"""

  // ———————————————— prefix-filtered EXACT set-similarity join (q133)
  // (PPJoin-family prefix bound: candidates only from each doc's
  //  n−⌈t·n⌉+1 globally-rarest shingles, in-row array_intersect verify —
  //  provably the SAME result as the brute-force pairwise Jaccard the
  //  oracle runs, unlike q42's recall-trading df cap)
  val q133PrefixSsjoin: Q = (s, dir) =>
    Dedup.prefixFilteredJaccardPairs(
      Tables.documents(s, dir).filter(col("doc_id") < 1500),
      "text", "doc_id", n = 3, threshold = 0.5)
  val q133Sql: String = """
    WITH d AS (SELECT doc_id, string_split(lower(text), ' ') AS w
               FROM documents WHERE doc_id < 1500),
    idx AS (SELECT doc_id, w, unnest(range(1, len(w) - 1)) AS i FROM d),
    sh AS (SELECT DISTINCT doc_id, w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS shingle
           FROM idx),
    sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY 1),
    inter AS (SELECT x.doc_id AS a, y.doc_id AS b, count(*) AS inter
              FROM sh x JOIN sh y ON x.shingle = y.shingle AND x.doc_id < y.doc_id
              GROUP BY 1, 2)
    SELECT a, b, jaccard FROM (
      SELECT a, b, inter / CAST(sa.n_sh + sb.n_sh - inter AS DOUBLE) AS jaccard
      FROM inter JOIN sizes sa ON sa.doc_id = a JOIN sizes sb ON sb.doc_id = b)
    WHERE jaccard >= 0.5"""

  // ———————————————— embedding covariance matrix (q138)
  // (upper-triangle cov of the 64 embedding dims in exact milli-integer
  //  space — the whitening/PCA input; pairs generated IN-ROW, vectors
  //  never shuffled, output = dims² design constants)
  val q138EmbedCovariance: Q = (s, dir) =>
    Similarity.embeddingCovariance(Tables.embeddings(s, dir))
  val q138Sql: String = """
    WITH d AS (SELECT CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
    idx AS (SELECT e, unnest(range(1, len(e) + 1)) AS i FROM d),
    pr AS (SELECT e, i, unnest(range(i, len(e) + 1)) AS j FROM idx),
    p AS (SELECT CAST(i - 1 AS BIGINT) AS i, CAST(j - 1 AS BIGINT) AS j,
            CAST(round(e[i] * 1000) AS BIGINT)
              * CAST(round(e[j] * 1000) AS BIGINT) AS xy
          FROM pr),
    g AS (SELECT i, j, count(*) AS n, CAST(sum(xy) AS BIGINT) AS sxy
          FROM p GROUP BY 1, 2),
    s AS (SELECT CAST(i - 1 AS BIGINT) AS dm,
            CAST(sum(CAST(round(e[i] * 1000) AS BIGINT)) AS BIGINT) AS sd
          FROM idx GROUP BY 1)
    SELECT g.i, g.j, g.n, g.sxy,
      round(CAST(g.n * g.sxy - si.sd * sj.sd AS DOUBLE)
        / CAST(g.n * g.n AS DOUBLE), 6) AS cov_mc
    FROM g JOIN s si ON si.dm = g.i JOIN s sj ON sj.dm = g.j"""

  // ———————————————— contrastive hard-negative mining (q139)
  // (for each anchor in the batch, the top-k most-similar corpus
  //  vectors with a DIFFERENT label — q50's broadcast-batch scan plus
  //  the label predicate; 4 d.p.-rounded cosine + id tiebreak before
  //  the rank, the established ANN float discipline)
  val q139HardNegatives: Q = (s, dir) => {
    val emb = Tables.embeddings(s, dir)
    val anchors = emb.filter(col("vec_id") < 5)
      .select(col("vec_id").as("a_id"), col("label").as("a_label"),
        Similarity.asDouble(col("embedding")).as("qvec"))
    Similarity.hardNegatives(emb.filter(col("vec_id") >= 5), anchors, k = 5)
  }
  val q139Sql: String = """
    WITH a AS (SELECT vec_id AS a_id, label AS a_label,
        CAST(embedding AS DOUBLE[]) AS qe
      FROM embeddings WHERE vec_id < 5),
    sc AS (SELECT a_id, vec_id, e.label, round(
        list_dot_product(CAST(embedding AS DOUBLE[]), qe)
        / (sqrt(list_dot_product(CAST(embedding AS DOUBLE[]),
                                 CAST(embedding AS DOUBLE[])))
           * sqrt(list_dot_product(qe, qe))), 4) AS cos_sim
      FROM embeddings e, a
      WHERE vec_id >= 5 AND e.label <> a.a_label AND vec_id <> a_id),
    r AS (SELECT *, CAST(row_number() OVER
            (PARTITION BY a_id ORDER BY cos_sim DESC, vec_id) AS BIGINT) AS rk
          FROM sc)
    SELECT a_id, vec_id, label, cos_sim, rk FROM r WHERE rk <= 5"""

  // ———————————————— annotator label aggregation (q140)
  // (one-round Dawid–Skene: majority → per-annotator agreement weight in
  //  exact ppm integer space (integer div, never float) → weighted
  //  re-vote with lexicographic tiebreaks; confidence is the single
  //  final double division)
  val q140LabelAgg: Q = (s, dir) =>
    graft.ops.Annotation.aggregateLabels(
      Tables.orders(s, dir).select(
        col("o_custkey").as("item"),
        (col("o_orderkey") % 7).as("annotator"),
        col("o_orderpriority").as("label")),
      "item", "annotator", "label")
  val q140Sql: String = """
    WITH v AS (SELECT o_custkey AS item, o_orderkey % 7 AS annotator,
        o_orderpriority AS label FROM orders),
    c AS (SELECT item, label, count(*) AS cnt FROM v GROUP BY 1, 2),
    mj AS (SELECT item, label AS maj_label FROM (
        SELECT item, label, row_number() OVER
          (PARTITION BY item ORDER BY cnt DESC, label) AS rn FROM c)
      WHERE rn = 1),
    ac AS (SELECT annotator, CAST(
        (1000000 * sum(CASE WHEN label = maj_label THEN 1 ELSE 0 END))
          // count(*) AS BIGINT) AS w_ppm
      FROM v JOIN mj USING (item) GROUP BY 1),
    wg AS (SELECT item, label, count(*) AS n,
        CAST(sum(w_ppm) AS BIGINT) AS wsum
      FROM v JOIN ac USING (annotator) GROUP BY 1, 2),
    tt AS (SELECT item, CAST(sum(wsum) AS BIGINT) AS w_total,
        CAST(sum(n) AS BIGINT) AS n_votes FROM wg GROUP BY 1),
    fin AS (SELECT item, label AS final_label, wsum FROM (
        SELECT *, row_number() OVER
          (PARTITION BY item ORDER BY wsum DESC, label) AS rn FROM wg)
      WHERE rn = 1)
    SELECT f.item, m.maj_label, f.final_label, t.n_votes, f.wsum,
      round(CAST(f.wsum AS DOUBLE) / CAST(t.w_total AS DOUBLE), 6)
        AS confidence
    FROM fin f JOIN tt t USING (item) JOIN mj m USING (item)"""

  // ———————————————— per-dimension embedding whitening (q141)
  // (z-score each value against its dimension's corpus stats — the
  //  q115 integer z formula in milli space; zero-variance dims null)
  val q141WhitenEmbeddings: Q = (s, dir) =>
    Similarity.whitenEmbeddings(Tables.embeddings(s, dir))
  val q141Sql: String = """
    WITH d AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
    idx AS (SELECT vec_id, e, unnest(range(1, len(e) + 1)) AS i FROM d),
    v AS (SELECT vec_id, CAST(i - 1 AS BIGINT) AS dim,
            CAST(round(e[i] * 1000) AS BIGINT) AS v FROM idx),
    st AS (SELECT dim, count(*) AS n, CAST(sum(v) AS BIGINT) AS s,
             CAST(sum(v * v) AS BIGINT) AS ss FROM v GROUP BY 1)
    SELECT vec_id, dim, v,
      CASE WHEN n * ss - s * s > 0 THEN
        round(CAST(n * v - s AS DOUBLE)
          / sqrt(CAST(n * ss - s * s AS DOUBLE)), 6) END AS z
    FROM v JOIN st USING (dim)"""

  // ———————————————— canonical keeper selection (q143)
  // (q49's near-dup clusters + per-cluster argmax by document length —
  //  the "which duplicate do we keep" policy made deterministic:
  //  longest doc wins, id breaks ties)
  val q143CanonicalKeepers: Q = (s, dir) => {
    import org.apache.spark.sql.expressions.Window
    val docs = Tables.documents(s, dir).filter(col("doc_id") < 1000)
    val clusters = Dedup.connectedComponents(
      Dedup.ngramJaccardPairs(docs, "text", "doc_id", n = 3, threshold = 0.5))
    val w = Window.partitionBy("cluster")
      .orderBy(col("n_chars").desc, col("id"))
    clusters.join(docs.select(col("doc_id").as("id"), col("n_chars")), "id")
      .withColumn("rn", row_number().over(w))
      .withColumn("n_members", count(lit(1)).over(Window.partitionBy("cluster")))
      .where(col("rn") === 1)
      .select(col("cluster"), col("id").as("keeper"),
        col("n_chars").as("keeper_chars"), col("n_members"))
  }
  val q143Sql: String = """
    WITH RECURSIVE d AS (SELECT doc_id, string_split(lower(text), ' ') AS w
               FROM documents WHERE doc_id < 1000),
    idx AS (SELECT doc_id, w, unnest(range(1, len(w) - 1)) AS i FROM d),
    sh AS (SELECT DISTINCT doc_id, w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS shingle
           FROM idx),
    sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY 1),
    inter AS (SELECT x.doc_id AS a, y.doc_id AS b, count(*) AS inter
              FROM sh x JOIN sh y ON x.shingle = y.shingle AND x.doc_id < y.doc_id
              GROUP BY 1, 2),
    pairs AS (SELECT a, b FROM (
        SELECT a, b, inter / CAST(sa.n_sh + sb.n_sh - inter AS DOUBLE) AS jaccard
        FROM inter JOIN sizes sa ON sa.doc_id = a JOIN sizes sb ON sb.doc_id = b)
      WHERE jaccard >= 0.5),
    edges AS (SELECT a AS src, b AS dst FROM pairs
              UNION ALL SELECT b, a FROM pairs),
    walk(node, label) AS (
      SELECT src, src FROM edges
      UNION
      SELECT e.dst, wk.label FROM walk wk JOIN edges e ON e.src = wk.node),
    cl AS (SELECT node AS id, min(label) AS cluster FROM walk GROUP BY node)
    SELECT cluster, id AS keeper, n_chars AS keeper_chars, n_members FROM (
      SELECT cl.cluster, cl.id, dd.n_chars,
        row_number() OVER (PARTITION BY cl.cluster
          ORDER BY dd.n_chars DESC, cl.id) AS rn,
        count(*) OVER (PARTITION BY cl.cluster) AS n_members
      FROM cl JOIN documents dd ON dd.doc_id = cl.id)
    WHERE rn = 1"""

  // ———————————————— containment join (q144)
  // (asymmetric prefix-filtered |A∩B|/|A| ≥ 60% — drops quotes/snippets
  //  wholly inside a longer doc that symmetric Jaccard misses; integer
  //  threshold algebra; the oracle is the brute pairwise re-derivation
  //  the prefix filter provably equals on the capped corpus)
  val q144ContainmentJoin: Q = (s, dir) =>
    Dedup.containmentPairs(
      Tables.documents(s, dir).filter(col("doc_id") < 600),
      "text", "doc_id", n = 3, pct = 60)
  val q144Sql: String = """
    WITH d AS (SELECT doc_id, string_split(lower(text), ' ') AS w
               FROM documents WHERE doc_id < 600),
    idx AS (SELECT doc_id, w, unnest(range(1, len(w) - 1)) AS i FROM d),
    sh AS (SELECT DISTINCT doc_id, w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS shingle
           FROM idx),
    sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY 1),
    inter AS (SELECT x.doc_id AS a, y.doc_id AS b, count(*) AS ic
              FROM sh x JOIN sh y ON x.shingle = y.shingle
                AND x.doc_id <> y.doc_id
              GROUP BY 1, 2)
    SELECT a, b, round(ic / CAST(na AS DOUBLE), 6) AS containment
    FROM (SELECT a, b, ic, s.n_sh AS na FROM inter JOIN sizes s ON s.doc_id = a)
    WHERE ic * 100 >= 60 * na"""

  // ———————————————— greedy k-center coreset (q145)
  // (farthest-point-first diverse subset over milli-quantized
  //  embeddings; seed = lowest id, id tiebreaks; the oracle re-derives
  //  every round as a chained CTE — argmax of the running min-distance,
  //  then fold the new center in with least())
  private val Q145K = 5
  val q145KcenterCoreset: Q = (s, dir) =>
    Similarity.kCenterCoreset(
      Tables.embeddings(s, dir).filter(col("vec_id") < 500), k = Q145K)
  val q145Sql: String = {
    def d2(a: String, b: String) =
      s"list_sum(list_transform(range(1, len($a) + 1), i -> ($a[i] - $b[i]) * ($a[i] - $b[i])))"
    val sb = new StringBuilder
    sb ++= """WITH m AS (SELECT vec_id,
        list_transform(CAST(embedding AS DOUBLE[]),
          x -> CAST(round(x * 1000) AS BIGINT)) AS v
      FROM embeddings WHERE vec_id < 500),
    c0 AS (SELECT vec_id, v FROM m ORDER BY vec_id LIMIT 1),
    d0 AS (SELECT m.vec_id, m.v, """ + d2("m.v", "c0.v") + " AS md FROM m, c0)"
    for (r <- 1 until Q145K) {
      val prev = s"d${r - 1}"
      val exclude = (0 until r).map(i => s"SELECT vec_id FROM c$i").mkString(" UNION ")
      sb ++= s""",
    c$r AS (SELECT vec_id, v, md FROM $prev
            WHERE vec_id NOT IN ($exclude)
            ORDER BY md DESC, vec_id LIMIT 1)"""
      if (r < Q145K - 1)
        sb ++= s""",
    d$r AS (SELECT d.vec_id, d.v, least(d.md, ${d2("d.v", s"c$r.v")}) AS md
            FROM $prev d, c$r)"""
    }
    sb ++= "\n    SELECT 0 AS sel_rank, vec_id, CAST(NULL AS BIGINT) AS dist2 FROM c0"
    for (r <- 1 until Q145K)
      sb ++= s"\n    UNION ALL SELECT $r, vec_id, CAST(md AS BIGINT) FROM c$r"
    sb.toString
  }

  // ———————————————— chi-squared distinctive terms (q147)
  // (per-language 2×2 contingency over exact token counts; the double
  //  formula evaluates in a FIXED operation order mirrored by the
  //  oracle; top-10 per language on the unrounded statistic)
  val q147Chi2Terms: Q = (s, dir) =>
    TextOps.chi2Terms(Tables.documents(s, dir), "text", "lang",
      minCount = 20, topK = 10)
  val q147Sql: String = """
    WITH t AS (SELECT lang AS cat, unnest(string_split(lower(text), ' ')) AS term
               FROM documents),
    tc AS (SELECT cat, term, count(*) AS a FROM t GROUP BY 1, 2),
    tt AS (SELECT term, sum(a) AS t_tot FROM tc GROUP BY 1
           HAVING sum(a) >= 20),
    ct AS (SELECT cat, sum(a) AS c_tot FROM tc GROUP BY 1),
    g AS (SELECT sum(c_tot) AS nn FROM ct),
    j AS (SELECT tc.cat, tc.term, a, t_tot - a AS b, c_tot - a AS c,
            nn - t_tot - c_tot + a AS d, nn
          FROM tc JOIN tt USING (term) JOIN ct USING (cat), g),
    s AS (SELECT cat, term, a,
            CAST(nn AS DOUBLE)
              * (CAST(a AS DOUBLE) * CAST(d AS DOUBLE)
                 - CAST(b AS DOUBLE) * CAST(c AS DOUBLE))
              * (CAST(a AS DOUBLE) * CAST(d AS DOUBLE)
                 - CAST(b AS DOUBLE) * CAST(c AS DOUBLE))
              / (CAST(a + b AS DOUBLE) * CAST(c + d AS DOUBLE)
                 * CAST(a + c AS DOUBLE) * CAST(b + d AS DOUBLE)) AS chi2
          FROM j
          WHERE CAST(a + b AS DOUBLE) * CAST(c + d AS DOUBLE)
                * CAST(a + c AS DOUBLE) * CAST(b + d AS DOUBLE) > 0)
    SELECT cat, term, n_in_cat, round(chi2, 4) AS chi2, rn FROM (
      SELECT cat, term, a AS n_in_cat, chi2,
        row_number() OVER (PARTITION BY cat ORDER BY chi2 DESC, term) AS rn
      FROM s)
    WHERE rn <= 10"""

  // ———————————————— leakage-safe train/val/test split (q148)
  // (near-dup clusters must land whole on one side of a split, or the
  //  held-out set leaks train content: assign the SPLIT BY CLUSTER id —
  //  q49's components, singletons = own id — through q53's md5 bucket)
  val q148LeakageSafeSplit: Q = (s, dir) => {
    val docs = Tables.documents(s, dir).filter(col("doc_id") < 1000)
    val clusters = Dedup.connectedComponents(
      Dedup.ngramJaccardPairs(docs, "text", "doc_id", n = 3, threshold = 0.5))
    val withCluster = docs.select(col("doc_id"))
      .join(clusters.withColumnRenamed("id", "doc_id"), Seq("doc_id"), "left")
      .withColumn("cluster", coalesce(col("cluster"), col("doc_id")))
    graft.ops.Sampling.hashSplit(withCluster, "cluster",
      Seq("train" -> 80, "val" -> 10, "test" -> 10))
  }
  val q148Sql: String = """
    WITH RECURSIVE d AS (SELECT doc_id, string_split(lower(text), ' ') AS w
               FROM documents WHERE doc_id < 1000),
    idx AS (SELECT doc_id, w, unnest(range(1, len(w) - 1)) AS i FROM d),
    sh AS (SELECT DISTINCT doc_id, w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS shingle
           FROM idx),
    sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY 1),
    inter AS (SELECT x.doc_id AS a, y.doc_id AS b, count(*) AS inter
              FROM sh x JOIN sh y ON x.shingle = y.shingle AND x.doc_id < y.doc_id
              GROUP BY 1, 2),
    pairs AS (SELECT a, b FROM (
        SELECT a, b, inter / CAST(sa.n_sh + sb.n_sh - inter AS DOUBLE) AS jaccard
        FROM inter JOIN sizes sa ON sa.doc_id = a JOIN sizes sb ON sb.doc_id = b)
      WHERE jaccard >= 0.5),
    edges AS (SELECT a AS src, b AS dst FROM pairs
              UNION ALL SELECT b, a FROM pairs),
    walk(node, label) AS (
      SELECT src, src FROM edges
      UNION
      SELECT e.dst, wk.label FROM walk wk JOIN edges e ON e.src = wk.node),
    cl AS (SELECT node AS id, min(label) AS cluster FROM walk GROUP BY node)
    SELECT doc_id, cluster,
      CASE WHEN b < 80 THEN 'train' WHEN b < 90 THEN 'val' ELSE 'test' END
        AS split
    FROM (SELECT doc_id, cluster,
            CAST(('0x' || substr(md5(CAST(cluster AS VARCHAR)), 1, 4)) AS BIGINT)
              % 100 AS b
          FROM (SELECT dd.doc_id, COALESCE(cl.cluster, dd.doc_id) AS cluster
                FROM (SELECT doc_id FROM documents WHERE doc_id < 1000) dd
                LEFT JOIN cl ON cl.id = dd.doc_id))"""

  // ———————————————— FastSS fuzzy-match join (q149)
  // (edit-distance-≤1 pairs via deletion-neighborhood blocking — the
  //  oracle is the quadratic brute levenshtein join the blocking
  //  provably equals on the capped slice)
  val q149FuzzyJoin: Q = (s, dir) =>
    TextOps.editDistance1Pairs(
      Tables.customer(s, dir).filter(col("c_custkey") < 1500),
      "c_custkey", "c_name")
  val q149Sql: String = """
    WITH c AS (SELECT c_custkey AS id, c_name AS s FROM customer
               WHERE c_custkey < 1500)
    SELECT x.id AS a, y.id AS b, levenshtein(x.s, y.s) AS dist
    FROM c x JOIN c y ON x.id < y.id
    WHERE levenshtein(x.s, y.s) <= 1"""

  // ———————————————— MAD outlier fences (q150)
  // (median-absolute-deviation in doubled/quadrupled cent space — both
  //  medians integer-valued by construction, the k·MAD fence a pure
  //  BIGINT comparison)
  val q150MadOutliers: Q = (s, dir) =>
    graft.ops.Analytics.madOutliers(
      Tables.lineitem(s, dir).select("l_returnflag", "l_extendedprice"),
      "l_returnflag", "l_extendedprice", k = 3)
  val q150Sql: String = """
    WITH c AS (SELECT l_returnflag AS g,
                 CAST(round(l_extendedprice * 100) AS BIGINT) AS c
               FROM lineitem
               WHERE l_returnflag IS NOT NULL AND l_extendedprice IS NOT NULL),
    m AS (SELECT g, CAST(quantile_cont(c * 2, 0.5) AS BIGINT) AS m2
          FROM c GROUP BY 1),
    d AS (SELECT g, abs(c * 2 - m2) AS dev2, m2 FROM c JOIN m USING (g)),
    md AS (SELECT g, CAST(quantile_cont(dev2 * 2, 0.5) AS BIGINT) AS mad4
           FROM d GROUP BY 1)
    SELECT g AS l_returnflag, min(m2) AS med_c2, min(mad4) AS mad_c4,
      count(*) AS n,
      CAST(sum(CASE WHEN dev2 * 2 * 2 > 3 * mad4 THEN 1 ELSE 0 END) AS BIGINT)
        AS n_outliers
    FROM d JOIN md USING (g) GROUP BY 1"""

  // ———————————————— two-proportion A/B z-test (q151)
  // (md5-lattice arms, per-user conversion, pooled-SE z in ONE
  //  fixed-order double expression)
  val q151AbTest: Q = (s, dir) =>
    graft.ops.Analytics.abTestZ(Tables.events(s, dir),
      "user_id", "event_type", convType = "purchase")
  val q151Sql: String = """
    WITH u AS (SELECT user_id AS u,
        max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS conv
      FROM events GROUP BY 1),
    arms AS (SELECT u, conv,
        CASE WHEN CAST(('0x' || substr(md5(CAST(u AS VARCHAR)), 1, 4)) AS BIGINT)
          % 100 < 50 THEN 'A' ELSE 'B' END AS arm FROM u),
    agg AS (SELECT
        CAST(sum(CASE WHEN arm = 'A' THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
        CAST(sum(CASE WHEN arm = 'A' THEN conv ELSE 0 END) AS BIGINT) AS conv_a,
        CAST(sum(CASE WHEN arm = 'B' THEN 1 ELSE 0 END) AS BIGINT) AS n_b,
        CAST(sum(CASE WHEN arm = 'B' THEN conv ELSE 0 END) AS BIGINT) AS conv_b
      FROM arms)
    SELECT n_a, conv_a, n_b, conv_b,
      round(CAST(conv_a AS DOUBLE) / CAST(n_a AS DOUBLE), 6) AS p_a,
      round(CAST(conv_b AS DOUBLE) / CAST(n_b AS DOUBLE), 6) AS p_b,
      CASE WHEN sqrt((CAST(conv_a + conv_b AS DOUBLE) / CAST(n_a + n_b AS DOUBLE))
              * (1.0 - CAST(conv_a + conv_b AS DOUBLE) / CAST(n_a + n_b AS DOUBLE))
              * (1.0 / CAST(n_a AS DOUBLE) + 1.0 / CAST(n_b AS DOUBLE))) > 0
        THEN round(
          (CAST(conv_b AS DOUBLE) / CAST(n_b AS DOUBLE)
            - CAST(conv_a AS DOUBLE) / CAST(n_a AS DOUBLE))
          / sqrt((CAST(conv_a + conv_b AS DOUBLE) / CAST(n_a + n_b AS DOUBLE))
              * (1.0 - CAST(conv_a + conv_b AS DOUBLE) / CAST(n_a + n_b AS DOUBLE))
              * (1.0 / CAST(n_a AS DOUBLE) + 1.0 / CAST(n_b AS DOUBLE))), 6)
      END AS z
    FROM agg"""

  // ———————————————— activity-concentration Gini (q152)
  // (Gini over per-user event counts from the sorted-cumulative
  //  identity — exact integer Σi·xᵢ, two fixed-order double divisions)
  val q152Gini: Q = (s, dir) =>
    graft.ops.Analytics.giniShares(
      Tables.events(s, dir).select("user_id"), "user_id")
  val q152Sql: String = """
    WITH sizes AS (SELECT user_id AS g, count(*) AS x FROM events
                   WHERE user_id IS NOT NULL GROUP BY 1),
    ranked AS (SELECT g, x, row_number() OVER (ORDER BY x, g) AS i FROM sizes)
    SELECT count(*) AS n, CAST(sum(x) AS BIGINT) AS sx,
      round(2.0 * CAST(sum(i * x) AS DOUBLE) / CAST(count(*) * sum(x) AS DOUBLE)
        - CAST(count(*) + 1 AS DOUBLE) / CAST(count(*) AS DOUBLE), 6) AS gini,
      round(CAST(max(x) AS DOUBLE) / CAST(sum(x) AS DOUBLE), 6) AS top_share
    FROM ranked"""

  // ———————————————— serpentine LPT-style shard packing (q153)
  // (size-descending serpentine round-robin — the one-pass deterministic
  //  balanced-bin-packing approximation; oracle re-derives the same
  //  rank → block/pos → shard arithmetic)
  val q153SerpentineShards: Q = (s, dir) =>
    graft.ops.Sampling.serpentineShards(
      Tables.documents(s, dir).select("doc_id", "n_chars"),
      "doc_id", "n_chars", numShards = 8)
  val q153Sql: String = """
    WITH r AS (SELECT doc_id AS id, CAST(n_chars AS BIGINT) AS size,
        CAST(row_number() OVER (ORDER BY n_chars DESC, doc_id) AS BIGINT) - 1
          AS r
      FROM documents)
    SELECT id, size, r AS rank,
      CASE WHEN (r // 8) % 2 = 0 THEN r % 8 ELSE 7 - (r % 8) END AS shard
    FROM r"""

  // ———————————————— two-sample KS drift (q154)
  // (document-length distribution across the two md5-lattice halves:
  //  |c1·n2 − c2·n1| in pure BIGINT over the cumulative support walk,
  //  one final division; argmax value reported with lowest-v tiebreak)
  val q154KsDrift: Q = (s, dir) => {
    val docs = Tables.documents(s, dir)
    val bk = graft.ops.Sampling.hashBucket(col("doc_id"))
    graft.ops.Analytics.ksDrift(
      docs.where(bk < 50), docs.where(bk >= 50), "n_chars")
  }
  val q154Sql: String = """
    WITH d AS (SELECT doc_id, n_chars,
        CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 4)) AS BIGINT)
          % 100 AS bk FROM documents),
    v AS (SELECT CAST(round(n_chars * 100) AS BIGINT) AS v,
            CASE WHEN bk < 50 THEN 1 ELSE 0 END AS s1,
            CASE WHEN bk >= 50 THEN 1 ELSE 0 END AS s2 FROM d),
    m AS (SELECT v, CAST(sum(s1) AS BIGINT) AS c1,
            CAST(sum(s2) AS BIGINT) AS c2 FROM v GROUP BY 1),
    c AS (SELECT v,
            CAST(sum(c1) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING) AS BIGINT) AS a1,
            CAST(sum(c2) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING) AS BIGINT) AS a2
          FROM m),
    t AS (SELECT CAST(max(a1) AS BIGINT) AS n1, CAST(max(a2) AS BIGINT) AS n2
          FROM c)
    SELECT n1, n2, v AS at_v_c,
      CAST(abs(a1 * n2 - a2 * n1) AS BIGINT) AS d_num,
      round(CAST(abs(a1 * n2 - a2 * n1) AS DOUBLE)
        / CAST(n1 * n2 AS DOUBLE), 6) AS ks
    FROM c, t
    ORDER BY abs(a1 * n2 - a2 * n1) DESC, v LIMIT 1"""

  // ———————————————— quality-model calibration table (q155)
  // (q93's sigmoid scores, ranked and cut into 10 equal-count bins in
  //  integer space — ppm sums, floor-div bin ids — against the
  //  lang='en' label: mean predicted vs observed rate per bin)
  val q155Calibration: Q = (s, dir) => {
    val docs = Tables.documents(s, dir)
    val scored = TextOps.linearQualityModel(docs, "text", "doc_id")
    val labeled = scored.join(
      docs.select(col("doc_id"), (col("lang") === lit("en")).as("is_en")),
      "doc_id")
    graft.ops.Analytics.calibrationBins(labeled, "doc_id", "score", "is_en",
      nBins = 10)
  }
  val q155Sql: String = s"""
    WITH scored AS (SELECT doc_id, score FROM (${q93Sql})),
    lab AS (SELECT s.doc_id, CAST(round(score * 1000000) AS BIGINT) AS ppm,
              CASE WHEN d.lang = 'en' THEN 1 ELSE 0 END AS y
            FROM scored s JOIN documents d USING (doc_id)),
    r AS (SELECT ppm, y,
            CAST(row_number() OVER (ORDER BY ppm, doc_id) AS BIGINT) - 1 AS r,
            CAST(count(*) OVER () AS BIGINT) AS n_all
          FROM lab)
    SELECT (r * 10) // n_all AS bin, count(*) AS n,
      round(CAST(sum(ppm) AS DOUBLE) / CAST(count(*) AS DOUBLE) / 1000000.0, 6)
        AS mean_score,
      CAST(sum(y) AS BIGINT) AS n_pos,
      round(CAST(sum(y) AS DOUBLE) / CAST(count(*) AS DOUBLE), 6) AS pos_rate
    FROM r GROUP BY 1"""

  // ———————————————— count-min sketch point frequencies (q158)
  // (4×1024 md5-hashed integer counters, estimate = min over the 4 rows
  //  — the sub-linear memory token-frequency sketch; probes are the
  //  min-id document's distinct tokens; the oracle rebuilds the sketch
  //  bit-for-bit from the same hashes)
  val q158CmsCounts: Q = (s, dir) =>
    graft.ops.Sketches.cmsTokenCounts(Tables.documents(s, dir),
      "text", "doc_id", depth = 4, width = 1024)
  val q158Sql: String = """
    WITH tok AS (SELECT doc_id, unnest(string_split(lower(text), ' ')) AS token
                 FROM documents),
    rt AS (SELECT token, unnest(range(0, 4)) AS r FROM tok),
    sk AS (SELECT r, CAST(('0x' || substr(md5(CAST(r AS VARCHAR) || '|' || token),
               1, 8)) AS BIGINT) % 1024 AS bkt, count(*) AS c
           FROM rt GROUP BY 1, 2),
    probe AS (SELECT DISTINCT token FROM tok
              WHERE doc_id = (SELECT min(doc_id) FROM documents)),
    pb AS (SELECT token, r, CAST(('0x' || substr(md5(CAST(r AS VARCHAR) || '|'
               || token), 1, 8)) AS BIGINT) % 1024 AS bkt
           FROM (SELECT token, unnest(range(0, 4)) AS r FROM probe))
    SELECT pb.token, CAST(min(sk.c) AS BIGINT) AS est
    FROM pb JOIN sk ON sk.r = pb.r AND sk.bkt = pb.bkt
    GROUP BY 1"""

  // ———————————————— top principal component, power iteration (q159)
  // (q138's integer covariance numerator divided into a milli² matrix,
  //  then 8 rounds of exact-integer matvec + truncating-division L∞
  //  rescale — the oracle replays the identical walk in 8 chained CTE
  //  blocks; JVM Long division and DuckDB `//` both truncate toward 0)
  val q159TopPc: Q = (s, dir) =>
    graft.ops.Similarity.topPrincipalComponent(Tables.embeddings(s, dir),
      iters = 8)
  val q159Sql: String = {
    val iterBlocks = (1 to 8).map { t =>
      s"""
    y$t AS (SELECT m.i AS d, CAST(sum(m.q * v.v) AS BIGINT) AS y
           FROM qm m JOIN v${t - 1} v ON v.d = m.j GROUP BY 1),
    n$t AS (SELECT greatest(CAST(1 AS BIGINT),
              CAST(max(abs(y)) AS BIGINT) // 1000000) AS dn FROM y$t),
    v$t AS (SELECT d, y // dn AS v FROM y$t, n$t)"""
    }.mkString(",")
    s"""
    WITH d AS (SELECT CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
    idx AS (SELECT e, unnest(range(1, len(e) + 1)) AS i FROM d),
    pr AS (SELECT e, i, unnest(range(i, len(e) + 1)) AS j FROM idx),
    p AS (SELECT CAST(i - 1 AS BIGINT) AS i, CAST(j - 1 AS BIGINT) AS j,
            CAST(round(e[i] * 1000) AS BIGINT)
              * CAST(round(e[j] * 1000) AS BIGINT) AS xy
          FROM pr),
    g AS (SELECT i, j, count(*) AS n, CAST(sum(xy) AS BIGINT) AS sxy
          FROM p GROUP BY 1, 2),
    s AS (SELECT CAST(i - 1 AS BIGINT) AS dm,
            CAST(sum(CAST(round(e[i] * 1000) AS BIGINT)) AS BIGINT) AS sd
          FROM idx GROUP BY 1),
    qt AS (SELECT g.i, g.j,
             (g.n * g.sxy - si.sd * sj.sd) // (g.n * g.n) AS q
           FROM g JOIN s si ON si.dm = g.i JOIN s sj ON sj.dm = g.j),
    qm AS (SELECT i, j, q FROM qt
           UNION ALL SELECT j, i, q FROM qt WHERE i <> j),
    v0 AS (SELECT dm AS d, CAST(1000000 AS BIGINT) AS v FROM s),$iterBlocks
    SELECT d, v FROM v8"""
  }

  // ———————————————— per-point silhouette score (q162)
  // (cluster-quality report over the labeled embedding table: a = mean
  //  same-label distance, b = min foreign-label mean, s = (b−a)/max —
  //  distances micro-rounded BEFORE summation so no float accumulation
  //  order leaks; the all-pairs form is the capped ground-truth verifier,
  //  the sampled/centroid variant the named at-scale path)
  val q162Silhouette: Q = (s, dir) =>
    graft.ops.Evaluation.silhouette(
      Tables.embeddings(s, dir).filter(col("vec_id") < 400))
  val q162Sql: String = """
    WITH m AS (SELECT vec_id AS id, label AS lbl,
        list_transform(CAST(embedding AS DOUBLE[]),
          x -> CAST(round(x * 1000) AS BIGINT)) AS mv
      FROM embeddings WHERE vec_id < 400),
    pr AS (SELECT x.id AS i, x.lbl AS li, y.lbl AS lj,
        CAST(round(sqrt(CAST(list_sum(list_transform(range(1, len(x.mv) + 1),
            k -> (x.mv[k] - y.mv[k]) * (x.mv[k] - y.mv[k]))) AS DOUBLE))
          * 1000000) AS BIGINT) AS dmic
      FROM m x JOIN m y ON x.id <> y.id),
    g AS (SELECT i, li, lj,
            (CAST(sum(dmic) AS BIGINT) * 1000) // count(*) AS mean_q
          FROM pr GROUP BY 1, 2, 3),
    a AS (SELECT i, mean_q AS a_q FROM g WHERE li = lj),
    b AS (SELECT i, min(mean_q) AS b_q FROM g WHERE li <> lj GROUP BY 1)
    SELECT m.id, m.lbl AS label, a.a_q, b.b_q,
      CASE WHEN a.a_q IS NULL OR greatest(a.a_q, b.b_q) <= 0 THEN 0.0
           ELSE round(CAST(b.b_q - a.a_q AS DOUBLE)
                  / CAST(greatest(a.a_q, b.b_q) AS DOUBLE), 6)
      END AS s
    FROM m JOIN b ON b.i = m.id LEFT JOIN a ON a.i = m.id"""

  // ———————————————— Poisson-bootstrap mean CI (q163)
  // (per-event-type CI for the mean value: Poisson(1) weights from
  //  integer md5-vs-CDF-threshold comparisons — the one-pass resampling
  //  scheme that needs no group size and no permutation; CI = order
  //  statistics over 64 replicate means, no interpolation)
  val q163BootstrapCi: Q = (s, dir) =>
    graft.ops.Analytics.poissonBootstrapCi(Tables.events(s, dir),
      "event_type", "event_id", "value", reps = 64)
  val q163Sql: String = """
    WITH e AS (SELECT event_type AS g, event_id AS id,
                 CAST(round(value * 100) AS BIGINT) AS c FROM events),
    x AS (SELECT g, id, c, unnest(range(0, 64)) AS r FROM e),
    wts AS (SELECT g, r, c,
        CAST(('0x' || substr(md5('boot|' || CAST(r // 4 AS VARCHAR) || '|'
          || CAST(id AS VARCHAR)), 8 * (r % 4) + 1, 8)) AS BIGINT) AS h
      FROM x),
    wd AS (SELECT g, r, c,
        (CASE WHEN h >= 1580030168 THEN 1 ELSE 0 END
         + CASE WHEN h >= 3160060337 THEN 1 ELSE 0 END
         + CASE WHEN h >= 3950075421 THEN 1 ELSE 0 END
         + CASE WHEN h >= 4213413783 THEN 1 ELSE 0 END
         + CASE WHEN h >= 4279248373 THEN 1 ELSE 0 END
         + CASE WHEN h >= 4292415291 THEN 1 ELSE 0 END
         + CASE WHEN h >= 4294609777 THEN 1 ELSE 0 END
         + CASE WHEN h >= 4294923276 THEN 1 ELSE 0 END) AS w
      FROM wts),
    rm AS (SELECT g, r, round(CAST(sum(w * c) AS DOUBLE)
             / CAST(sum(w) AS DOUBLE), 6) AS rm
           FROM wd GROUP BY 1, 2 HAVING sum(w) > 0),
    rk AS (SELECT g, r, rm,
             row_number() OVER (PARTITION BY g ORDER BY rm, r) AS rk,
             count(*) OVER (PARTITION BY g) AS nr
           FROM rm),
    ci AS (SELECT g,
             max(CASE WHEN rk = least(2, nr) THEN rm END) AS ci_lo,
             max(CASE WHEN rk = least(62, nr) THEN rm END) AS ci_hi,
             max(nr) AS n_reps
           FROM rk GROUP BY 1),
    pt AS (SELECT g, count(*) AS n, round(CAST(sum(c) AS DOUBLE)
             / CAST(count(*) AS DOUBLE), 6) AS mean_cents
           FROM e GROUP BY 1)
    SELECT pt.g AS event_type, pt.n, pt.mean_cents, ci.ci_lo, ci.ci_hi,
      CAST(ci.n_reps AS BIGINT) AS n_reps
    FROM pt JOIN ci ON ci.g = pt.g"""

  // ———————————————— longest-prefix-match CIDR classification (q164)
  // (synthetic lattice /32 addresses over event ids against a literal
  //  CIDR rule table; LPM as a pure equi-join: one candidate key per
  //  DISTINCT prefix length, argmax length per address — no range join,
  //  no cross product, broadcastable rule side)
  val q164LpmJoin: Q = (s, dir) => {
    val spark = s
    import spark.implicits._
    val rules = Seq(
      (0L << 28, 4, "wide_a"),          // 0.0.0.0/4
      (6L << 28, 4, "wide_b"),          // 96.0.0.0/4
      (10L << 24, 8, "net_10"),         // 10.0.0.0/8
      (172L << 24, 8, "net_172"),       // 172.0.0.0/8
      ((172L << 24) + (16L << 16), 12, "net_172_16"), // 172.16.0.0/12
      (250L << 24, 7, "high_pair")      // 250.0.0.0/7
    ).toDF("prefix_int", "prefix_len", "rule")
    val addrs = Tables.events(s, dir)
      .select(col("event_id"), graft.ops.Net.latticeIp(col("event_id")).as("ip_int"))
    graft.ops.Net.lpmJoin(addrs, rules)
  }
  val q164Sql: String = """
    WITH rules(prefix_int, prefix_len, rule) AS (VALUES
      (0, 4, 'wide_a'), (1610612736, 4, 'wide_b'),
      (167772160, 8, 'net_10'), (2885681152, 8, 'net_172'),
      (2886729728, 12, 'net_172_16'), (4194304000, 7, 'high_pair')),
    addrs AS (SELECT event_id,
        CAST(('0x' || substr(md5('ip|' || CAST(event_id AS VARCHAR)), 1, 8))
          AS BIGINT) AS ip_int
      FROM events),
    lens AS (SELECT DISTINCT prefix_len AS plen FROM rules),
    keyed AS (SELECT prefix_len AS plen, prefix_int >> (32 - prefix_len) AS pkey,
              rule FROM rules),
    cand AS (SELECT a.ip_int, k.plen, k.rule,
               row_number() OVER (PARTITION BY a.ip_int
                 ORDER BY k.plen DESC) AS rn
             FROM addrs a CROSS JOIN lens l
             JOIN keyed k ON k.plen = l.plen
               AND k.pkey = (a.ip_int >> (32 - l.plen))),
    best AS (SELECT ip_int, plen AS matched_len, rule FROM cand WHERE rn = 1)
    SELECT a.event_id, a.ip_int, b.matched_len, b.rule
    FROM addrs a LEFT JOIN best b ON b.ip_int = a.ip_int"""

  // ———————————————— HyperLogLog distinct sketch (q166)
  // (per-event-type distinct users through 1024 md5-bit registers; the
  //  oracle rebuilds the register table bit-for-bit — bucket = low 10
  //  bits of a 60-bit hex hash, rank via minimal-bin-string length —
  //  and the exact scaled harmonic sum; ONE final double division)
  val q166HllDistinct: Q = (s, dir) =>
    graft.ops.Sketches.hllDistinct(
      Tables.events(s, dir).where(col("user_id").isNotNull),
      "event_type", "user_id")
      .withColumnRenamed("event_type", "g")
  val q166Sql: String = """
    WITH h AS (SELECT event_type AS g,
        CAST(('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 15)) AS BIGINT)
          AS hv
      FROM events WHERE user_id IS NOT NULL),
    r AS (SELECT g, hv % 1024 AS b,
        least(51 - length(ltrim(bin(hv >> 10), '0')), 40) AS rk
      FROM h),
    regs AS (SELECT g, b, max(rk) AS m FROM r GROUP BY 1, 2),
    z AS (SELECT g, count(*) AS n_registers,
        CAST(sum(1::BIGINT << (40 - m)) AS BIGINT)
          + (1024 - count(*)) * (1::BIGINT << 40) AS z_scaled
      FROM regs GROUP BY 1)
    SELECT g, n_registers, z_scaled,
      round((0.7213 / (1.0 + 1.079 / 1024)) * 1024 * 1024
        * CAST(1::BIGINT << 40 AS DOUBLE) / CAST(z_scaled AS DOUBLE), 2)
        AS raw_est
    FROM z"""

  // ———————————————— soft dedup: inverse-cluster-size weights (q167)
  // (q49's jaccard pair graph → CC clusters → every doc KEPT with
  //  w_ppm = 1e6 div cluster_size — duplicates represented but not
  //  over-counted; exact integer division both engines)
  val q167SoftDedupWeights: Q = (s, dir) =>
    Dedup.softDedupWeights(
      Tables.documents(s, dir).filter(col("doc_id") < 1000)
        .select(col("doc_id")),
      "doc_id",
      Dedup.ngramJaccardPairs(
        Tables.documents(s, dir).filter(col("doc_id") < 1000),
        "text", "doc_id", n = 3, threshold = 0.5))
  val q167Sql: String = """
    WITH RECURSIVE d AS (SELECT doc_id, string_split(lower(text), ' ') AS w
               FROM documents WHERE doc_id < 1000),
    idx AS (SELECT doc_id, w, unnest(range(1, len(w) - 1)) AS i FROM d),
    sh AS (SELECT DISTINCT doc_id, w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS shingle
           FROM idx),
    sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY 1),
    inter AS (SELECT x.doc_id AS a, y.doc_id AS b, count(*) AS inter
              FROM sh x JOIN sh y ON x.shingle = y.shingle AND x.doc_id < y.doc_id
              GROUP BY 1, 2),
    pairs AS (SELECT a, b FROM (
        SELECT a, b, inter / CAST(sa.n_sh + sb.n_sh - inter AS DOUBLE) AS jaccard
        FROM inter JOIN sizes sa ON sa.doc_id = a JOIN sizes sb ON sb.doc_id = b)
      WHERE jaccard >= 0.5),
    edges AS (SELECT a AS src, b AS dst FROM pairs
              UNION ALL SELECT b, a FROM pairs),
    walk(node, label) AS (
      SELECT src, src FROM edges
      UNION
      SELECT e.dst, wk.label FROM walk wk JOIN edges e ON e.src = wk.node),
    cc AS (SELECT node AS id, min(label) AS cluster FROM walk GROUP BY node),
    cs AS (SELECT cluster, count(*) AS cluster_n FROM cc GROUP BY 1)
    SELECT doc.doc_id,
      coalesce(cc.cluster, doc.doc_id) AS cluster,
      coalesce(cs.cluster_n, 1) AS cluster_n,
      1000000 // coalesce(cs.cluster_n, 1) AS w_ppm
    FROM (SELECT doc_id FROM documents WHERE doc_id < 1000) doc
    LEFT JOIN cc ON cc.id = doc.doc_id
    LEFT JOIN cs ON cs.cluster = cc.cluster"""

  // ———————————————— clustering modularity (q168)
  // (is the language partition real structure on the q102/q124 pseudo
  //  link graph? per-cluster Q contribution with the common 4m²
  //  denominator kept exact — q_num = 4·m·e_c − d_c², floor-ppm at the
  //  edge; a random graph scores ≈ 0, which is the point of the gate)
  val q168Modularity: Q = (s, dir) => {
    val docs = Tables.documents(s, dir)
    graft.ops.Graph.modularity(
      graft.ops.Graph.pseudoEdges(docs.select(col("doc_id")), "doc_id",
        docs.count()),
      docs.select(col("doc_id").as("id"), col("lang").as("cluster")))
  }
  val q168Sql: String = """
    WITH nodes AS (SELECT doc_id AS node FROM documents),
    nn AS (SELECT count(*) AS n FROM nodes),
    raw AS (SELECT node AS src,
              CAST(('0x' || substr(md5(CAST(node AS VARCHAR) || '|' ||
                CAST(j AS VARCHAR)), 1, 8)) AS BIGINT)
                % (SELECT n FROM nn) AS tgt
            FROM nodes, unnest(range(0, 3)) t(j)),
    edges AS (SELECT DISTINCT src, tgt FROM raw WHERE tgt <> src),
    und AS (SELECT DISTINCT least(src, tgt) AS a, greatest(src, tgt) AS b
            FROM edges),
    m AS (SELECT count(*) AS m FROM und),
    lab AS (SELECT doc_id AS id, lang AS cluster FROM documents),
    wl AS (SELECT u.a, u.b, la.cluster AS ca, lb.cluster AS cb
           FROM und u LEFT JOIN lab la ON la.id = u.a
                      LEFT JOIN lab lb ON lb.id = u.b),
    intra AS (SELECT ca AS cluster, count(*) AS e_intra FROM wl
              WHERE ca IS NOT NULL AND ca = cb GROUP BY 1),
    degs AS (SELECT cluster, count(*) AS d_sum FROM (
        SELECT a AS id, ca AS cluster FROM wl
        UNION ALL SELECT b, cb FROM wl) GROUP BY 1)
    SELECT d.cluster, coalesce(i.e_intra, 0) AS e_intra, d.d_sum,
      4 * (SELECT m FROM m) * coalesce(i.e_intra, 0) - d.d_sum * d.d_sum
        AS q_num,
      CAST(floor(CAST(4 * (SELECT m FROM m) * coalesce(i.e_intra, 0)
            - d.d_sum * d.d_sum AS DOUBLE) * 1e6
          / (4.0 * (SELECT m FROM m) * (SELECT m FROM m))) AS BIGINT)
        AS q_ppm
    FROM degs d LEFT JOIN intra i ON i.cluster = d.cluster"""

  // ———————————————— column data profile (q169)
  // (one-scan multi-column profile unpivoted by stack(): row/null/
  //  distinct counts + string-rendering length stats per column — the
  //  pre-trust report on a new table drop)
  val q169Profile: Q = (s, dir) =>
    graft.ops.Analytics.columnProfile(Tables.documents(s, dir),
      Seq("doc_id", "text", "lang", "source", "n_chars"))
  val q169Sql: String = Seq("doc_id", "text", "lang", "source", "n_chars")
    .map(c => s"""
    SELECT '$c' AS col_name, count(*) AS n_rows,
      CAST(sum(CASE WHEN $c IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_nulls,
      count(DISTINCT $c) AS n_distinct,
      CAST(min(length(CAST($c AS VARCHAR))) AS BIGINT) AS min_len,
      CAST(max(length(CAST($c AS VARCHAR))) AS BIGINT) AS max_len,
      CAST(sum(coalesce(length(CAST($c AS VARCHAR)), 0)) AS BIGINT) AS sum_len
    FROM documents""").mkString(" UNION ALL ")

  // ———————————————— SCD2 point-in-time snapshot (q170)
  // (the time-travel read over q106's validity intervals: table state
  //  as of 1995-07-01 = rows whose half-open [from, to) interval
  //  contains T — one filter, no window re-run)
  private val q170AsOfMs = 804556800000L // 1995-07-01T00:00:00Z
  val q170Scd2AsOf: Q = (s, dir) =>
    graft.ops.Relational.scd2(
      Tables.orders(s, dir).select("o_custkey", "o_orderkey",
        "o_orderstatus", "o_orderdate"),
      "o_custkey", "o_orderdate", "o_orderkey")
      .drop("o_orderdate")
      .where(col("valid_from_ms") <= q170AsOfMs &&
        (col("valid_to_ms").isNull || col("valid_to_ms") > q170AsOfMs))
  val q170Sql: String = s"""
    WITH s AS (SELECT o_custkey, o_orderkey, o_orderstatus,
        epoch_ms(o_orderdate) AS valid_from_ms,
        epoch_ms(lead(o_orderdate) OVER w) AS valid_to_ms
      FROM orders
      WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey))
    SELECT *, valid_to_ms IS NULL AS is_current FROM s
    WHERE valid_from_ms <= $q170AsOfMs
      AND (valid_to_ms IS NULL OR valid_to_ms > $q170AsOfMs)"""

  // ———————————————— pairwise Cohen's kappa (q171)
  // (inter-annotator agreement matrix over the q140 vote fixture:
  //  κ = (n·a − Σₗ nAₗ·nBₗ)/(n² − Σₗ nAₗ·nBₗ) — exact BIGINT numerator
  //  and denominator, ONE final division; chance-constant pairs null)
  val q171Kappa: Q = (s, dir) =>
    graft.ops.Annotation.cohensKappa(
      Tables.orders(s, dir).select(
        col("o_custkey").as("item"),
        (col("o_orderkey") % 7).as("annotator"),
        col("o_orderpriority").as("label")),
      "item", "annotator", "label")
  val q171Sql: String = """
    WITH v AS (SELECT o_custkey AS item, o_orderkey % 7 AS annotator,
        o_orderpriority AS label FROM orders),
    co AS (SELECT x.annotator AS ann_a, y.annotator AS ann_b,
             x.label AS la, y.label AS lb
           FROM v x JOIN v y ON x.item = y.item AND x.annotator < y.annotator),
    base AS (SELECT ann_a, ann_b, count(*) AS n,
               CAST(sum(CASE WHEN la = lb THEN 1 ELSE 0 END) AS BIGINT)
                 AS n_agree
             FROM co GROUP BY 1, 2),
    ma AS (SELECT ann_a, ann_b, la, count(*) AS ca FROM co GROUP BY 1, 2, 3),
    mb AS (SELECT ann_a, ann_b, lb, count(*) AS cb FROM co GROUP BY 1, 2, 3),
    pe AS (SELECT ma.ann_a, ma.ann_b, CAST(sum(ca * cb) AS BIGINT) AS pe_num
           FROM ma JOIN mb ON mb.ann_a = ma.ann_a AND mb.ann_b = ma.ann_b
             AND mb.lb = ma.la
           GROUP BY 1, 2)
    SELECT b.ann_a, b.ann_b, b.n, b.n_agree,
      coalesce(pe.pe_num, 0) AS pe_num,
      CASE WHEN b.n * b.n <> coalesce(pe.pe_num, 0) THEN
        round(CAST(b.n * b.n_agree - coalesce(pe.pe_num, 0) AS DOUBLE)
          / CAST(b.n * b.n - coalesce(pe.pe_num, 0) AS DOUBLE), 6) END
        AS kappa
    FROM base b LEFT JOIN pe ON pe.ann_a = b.ann_a AND pe.ann_b = b.ann_b"""

  // ———————————————— cross-source corpus overlap (q172)
  // (distinct-shingle intersection per source pair with BOTH directed
  //  containments — the corpus-merge question is "how much of A is
  //  already in B", which Jaccard alone can't answer; floor-ppm ratios)
  val q172SourceOverlap: Q = (s, dir) =>
    graft.ops.TextOps.sourceOverlap(
      Tables.documents(s, dir), "text", "source", shingleN = 3)
  val q172Sql: String = """
    WITH d AS (SELECT source, string_split(lower(text), ' ') AS w
               FROM documents),
    idx AS (SELECT source, w, unnest(range(1, len(w) - 1)) AS i FROM d),
    sh AS (SELECT DISTINCT source AS src,
             substr(md5(w[i] || ' ' || w[i+1] || ' ' || w[i+2]), 1, 16)
               AS shingle FROM idx),
    sizes AS (SELECT src, count(*) AS n_sh FROM sh GROUP BY 1),
    inter AS (SELECT x.src AS src_a, y.src AS src_b, count(*) AS inter
              FROM sh x JOIN sh y
                ON x.shingle = y.shingle AND x.src < y.src
              GROUP BY 1, 2)
    SELECT src_a, src_b, sa.n_sh AS n_a, sb.n_sh AS n_b, inter,
      (1000000 * inter) // (sa.n_sh + sb.n_sh - inter) AS jaccard_ppm,
      (1000000 * inter) // sa.n_sh AS contain_a_ppm,
      (1000000 * inter) // sb.n_sh AS contain_b_ppm
    FROM inter JOIN sizes sa ON sa.src = src_a
               JOIN sizes sb ON sb.src = src_b"""

  // ———————————————— per-dimension Fisher ratio (q173)
  // (class-separability of each embedding dimension: between/within SS
  //  from exact milli sums, the per-class sₗ²/nₗ term kept BIGINT via
  //  truncating div — the one formula float classic ANOVA forces;
  //  ONE final double ratio)
  val q173FisherDims: Q = (s, dir) =>
    graft.ops.Similarity.fisherDims(Tables.embeddings(s, dir))
  val q173Sql: String = """
    WITH d AS (SELECT label AS lab, CAST(embedding AS DOUBLE[]) AS e
               FROM embeddings WHERE label IS NOT NULL),
    idx AS (SELECT lab, e, unnest(range(1, len(e) + 1)) AS i FROM d),
    v AS (SELECT lab, CAST(i - 1 AS BIGINT) AS dim,
            CAST(round(e[i] * 1000) AS BIGINT) AS v FROM idx),
    bc AS (SELECT dim, lab, count(*) AS nc, CAST(sum(v) AS BIGINT) AS sc,
             CAST(sum(v * v) AS BIGINT) AS ssc FROM v GROUP BY 1, 2),
    agg AS (SELECT dim, CAST(sum(nc) AS BIGINT) AS n,
              CAST(count(DISTINCT lab) AS BIGINT) AS k,
              CAST(sum(sc) AS BIGINT) AS s, CAST(sum(ssc) AS BIGINT) AS ss,
              CAST(sum((sc * sc) // nc) AS BIGINT) AS cterm
            FROM bc GROUP BY 1)
    SELECT dim, n, k,
      cterm - (s * s) // n AS between_num,
      ss - cterm AS within_num,
      CASE WHEN ss - cterm > 0 THEN
        round(CAST(cterm - (s * s) // n AS DOUBLE) * CAST(n - k AS DOUBLE)
          / (CAST(ss - cterm AS DOUBLE) * CAST(k - 1 AS DOUBLE)), 6) END
        AS fisher
    FROM agg WHERE k >= 2"""

  // ———————————————— edit-ratio near-dup pairs (q174)
  // (char-level third axis of the near-dup family: the q21 banded LSH
  //  candidates verified by levenshtein·1e6 ≤ 200000·max(len) — an
  //  integer compare; the oracle re-derives the bands AND the DP)
  val q174EditRatioNearDup: Q = (s, dir) =>
    Dedup.editRatioNearDupPairs(
      Tables.documents(s, dir).filter(col("doc_id") < 1000),
      "text", "doc_id", maxRatioPpm = 200000L)
  val q174Sql: String = """
    WITH d AS (SELECT doc_id, text, string_split(lower(text), ' ') AS w
               FROM documents WHERE doc_id < 1000),
    idx AS (SELECT doc_id, w, unnest(range(1, len(w) - 1)) AS i FROM d),
    sh AS (SELECT DISTINCT doc_id, w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS shingle
           FROM idx),
    hx AS (SELECT doc_id, unnest(range(0, 12)) AS i, shingle FROM sh),
    sigs AS (SELECT doc_id, i,
               min(md5(CAST(i AS VARCHAR) || '|' || shingle)) AS sig
             FROM hx GROUP BY 1, 2),
    bands AS (SELECT doc_id, CAST(i // 3 AS INT) AS band,
                md5(max(CASE WHEN i % 3 = 0 THEN sig END)
                 || max(CASE WHEN i % 3 = 1 THEN sig END)
                 || max(CASE WHEN i % 3 = 2 THEN sig END)) AS band_sig
              FROM sigs GROUP BY 1, 2),
    cand AS (SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
             FROM bands x JOIN bands y
               ON x.band = y.band AND x.band_sig = y.band_sig
                 AND x.doc_id < y.doc_id),
    vfy AS (SELECT c.a, c.b,
              CAST(levenshtein(da.text, db.text) AS BIGINT) AS dist,
              CAST(greatest(length(da.text), length(db.text)) AS BIGINT)
                AS max_len
            FROM cand c JOIN d da ON da.doc_id = c.a
                        JOIN d db ON db.doc_id = c.b)
    SELECT a, b, dist, max_len FROM vfy
    WHERE dist * 1000000 <= 200000 * max_len"""

  // ———————————————— rate-limit / first-per-window (q176)
  // (throttle primitive: first event per (user, clock hour) + suppressed
  //  count, as a partial-aggregable min(struct) — never a row_number
  //  sort; the oracle takes the same (us, id) arg-min via a rank)
  val q176RateLimit: Q = (s, dir) =>
    graft.ops.Analytics.rateLimitFirstPerWindow(
      Tables.events(s, dir), "user_id", "ts", "event_id",
      windowUs = 3600L * 1000000L)
  val q176Sql: String = """
    WITH e AS (SELECT user_id, event_id, epoch_us(ts) AS us FROM events
               WHERE user_id IS NOT NULL AND ts IS NOT NULL),
    b AS (SELECT user_id, event_id, us,
            (us // 3600000000) * 3600000000 AS bucket_us FROM e),
    r AS (SELECT *, row_number() OVER
            (PARTITION BY user_id, bucket_us ORDER BY us, event_id) AS rn,
            count(*) OVER (PARTITION BY user_id, bucket_us) AS n_in_window
          FROM b)
    SELECT user_id, bucket_us, event_id, us AS first_us, n_in_window,
      n_in_window - 1 AS n_suppressed
    FROM r WHERE rn = 1"""

  // ———————————————— incremental SCD2 maintenance (q177)
  // (the nightly CDC-merge shape: three key-residue batches of the
  //  orders change log folded into a stored dimension via
  //  scd2MergeBatch — each fold re-windows ONLY touched keys, the
  //  untouched mass rides one anti-join. Law under test:
  //  fold(batches) ≡ one-shot scd2 over everything, i.e. the q106
  //  oracle verbatim.)
  val q177Scd2Incremental: Q = (s, dir) => {
    val changes = Tables.orders(s, dir).select("o_custkey", "o_orderkey",
      "o_orderstatus", "o_orderdate")
    def batch(k: Int) = changes.where(pmod(col("o_orderkey"), lit(3)) === k)
    val init = graft.ops.Relational.scd2(batch(0), "o_custkey",
      "o_orderdate", "o_orderkey").drop("o_orderdate")
    (1 until 3).foldLeft(init) { (state, k) =>
      graft.ops.Relational.scd2MergeBatch(state.localCheckpoint(true),
        batch(k), "o_custkey", "o_orderdate", "o_orderkey")
    }
  }
  val q177Sql: String = """
    WITH s AS (SELECT o_custkey, o_orderkey, o_orderstatus,
        epoch_ms(o_orderdate) AS valid_from_ms,
        epoch_ms(lead(o_orderdate) OVER w) AS valid_to_ms
      FROM orders
      WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey))
    SELECT *, valid_to_ms IS NULL AS is_current FROM s"""

  // ———————————————— robust per-dimension scaling (q178)
  // (median/IQR normalize per embedding dim — the whale-proof analogue
  //  of q141's mean/σ whitening; p25/p50/p75 computed in QUADRUPLED
  //  milli space where every interpolation fraction {0,¼,½,¾} lands on
  //  an integer, so the scaled value is pure truncating-BIGINT
  //  arithmetic — both engines truncate toward zero)
  val q178RobustScale: Q = (s, dir) =>
    graft.ops.Similarity.robustScaleEmbeddings(Tables.embeddings(s, dir))
  val q178Sql: String = """
    WITH d AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
    idx AS (SELECT vec_id, e, unnest(range(1, len(e) + 1)) AS i FROM d),
    v AS (SELECT vec_id, CAST(i - 1 AS BIGINT) AS dim,
            CAST(round(e[i] * 1000) AS BIGINT) AS v FROM idx),
    st AS (SELECT dim,
             CAST(quantile_cont(v * 4, 0.5) AS BIGINT) AS m4,
             CAST(quantile_cont(v * 4, 0.75) - quantile_cont(v * 4, 0.25)
               AS BIGINT) AS iqr4
           FROM v GROUP BY 1)
    SELECT vec_id, dim, v, m4, iqr4,
      CASE WHEN iqr4 > 0 THEN (1000000 * (4 * v - m4)) // iqr4 END AS r_ppm
    FROM v JOIN st USING (dim)"""

  // ———————————————— mergeable quantile sketch (q179, q180)
  // (per-event-type value percentiles through deterministic threshold
  //  level-sampling — level = trailing zeros of a 60-bit md5 hash of
  //  event_id, threshold = minimal L keeping ≤ 256 rows; the oracle
  //  rebuilds the kept set bit-for-bit and reads the same target rank.
  //  q180 builds the SAME sketch as two half-corpus sketches merged —
  //  the exact merge law means it shares q179's direct-build oracle.)
  private val qsQuantiles = Seq((1, 2), (9, 10), (99, 100))
  val q179QuantileSketch: Q = (s, dir) =>
    graft.ops.Sketches.quantileSketchQuery(
      graft.ops.Sketches.quantileSketch(Tables.events(s, dir),
        "event_type", "value", "event_id", k = 256),
      qsQuantiles)
  val q180QuantileSketchMerged: Q = (s, dir) => {
    val ev = Tables.events(s, dir)
    def half(p: Int) = graft.ops.Sketches.quantileSketch(
      ev.where(pmod(col("event_id"), lit(2)) === p),
      "event_type", "value", "event_id", k = 256)
    graft.ops.Sketches.quantileSketchQuery(
      graft.ops.Sketches.quantileSketchMerge(half(0), half(1), k = 256),
      qsQuantiles)
  }
  val q179Sql: String = """
    WITH r AS (SELECT event_type AS g, CAST(event_id AS VARCHAR) AS id,
        value AS v,
        least(length(bin(CAST(('0x' || substr(md5(CAST(event_id AS VARCHAR)),
            1, 15)) AS BIGINT)))
          - length(rtrim(bin(CAST(('0x' || substr(md5(CAST(event_id AS
            VARCHAR)), 1, 15)) AS BIGINT)), '0')), 40) AS lvl
      FROM events WHERE value IS NOT NULL),
    sfx AS (SELECT g, lvl, sum(c) OVER (PARTITION BY g ORDER BY lvl DESC
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS s
            FROM (SELECT g, lvl, count(*) AS c FROM r GROUP BY 1, 2)),
    thr AS (SELECT g, coalesce(max(CASE WHEN s > 256 THEN lvl END) + 1, 0)
              AS thr FROM sfx GROUP BY 1),
    tot AS (SELECT g, count(*) AS n FROM r GROUP BY 1),
    kept AS (SELECT r.g, r.id, r.v, t.thr, o.n FROM r
             JOIN thr t ON r.g = t.g JOIN tot o ON r.g = o.g
             WHERE r.lvl >= t.thr),
    rk AS (SELECT g, v,
             row_number() OVER (PARTITION BY g ORDER BY v, id) AS rn
           FROM kept),
    meta AS (SELECT g, max(thr) AS thr, max(n) AS n, count(*) AS kept
             FROM kept GROUP BY 1),
    probes AS (SELECT m.g, q.q_num, q.q_den, m.n, m.thr, m.kept,
        least(m.kept, greatest(1,
          (q.q_num * m.n + q.q_den * (1::BIGINT << m.thr) - 1)
            // (q.q_den * (1::BIGINT << m.thr)))) AS tgt
      FROM meta m CROSS JOIN (VALUES (1, 2), (9, 10), (99, 100))
        AS q(q_num, q_den))
    SELECT p.g, p.q_num, p.q_den, p.n, p.thr, p.kept, k2.v AS est
    FROM probes p JOIN rk k2 ON p.g = k2.g AND k2.rn = p.tgt"""

  // ———————————————— cross-format image near-dup (q181)
  // (the JPEG pillar: every checker PNG is re-encoded to JPEG with the
  //  real JDK codec pair — decode → explicit-quality-0.9 write → decode
  //  again — and its aHash must come back BIT-IDENTICAL, because the
  //  fixture's 8×8-px cells align with JPEG DCT blocks and every hash
  //  margin dwarfs codec noise (Fixtures.checkerWhite scaladoc). The
  //  oracle re-derives the hash closed-form from the md5 cell parity
  //  and asserts hamming 0 — a decode that faked rasters, dropped the
  //  JPEG path, or mis-read dims hash- or width-mismatches.)
  val q181CrossFormatNearDup: Q = (s, dir) => {
    val png = s.read.parquet(Multimodal.Fixtures.checkerDataset(s))
    val jpg = Multimodal.reEncodeImages(s, png, "jpg", 0.9f).toDF()
    val hp = Multimodal.imageHashes(s, png).toDF().where(col("ok"))
      .select(col("media_id"), col("ahash").as("ahash_png"))
    val hj = Multimodal.imageHashes(s, jpg).toDF().where(col("ok"))
      .select(col("media_id"), col("width"), col("height"),
        col("ahash").as("ahash_jpg"))
    hp.join(hj, "media_id")
      .select(col("media_id"), col("width"), col("height"),
        col("ahash_png"), col("ahash_jpg"),
        (0 until 4).map(i =>
            bit_count(conv(substring(col("ahash_png"), 1 + 16 * i, 16), 2, 10)
              .cast("long").bitwiseXOR(
                conv(substring(col("ahash_jpg"), 1 + 16 * i, 16), 2, 10)
                  .cast("long"))))
          .reduce(_ + _).cast("long").as("hamming"))
  }
  private def q181Sql: String = s"""
    WITH m AS (SELECT media_id
               FROM read_parquet('${Multimodal.Fixtures.checkerParquetPath}/*.parquet')
               WHERE media_id % 13 <> 3),
    cells AS (SELECT m.media_id, vs.v, us.u,
        CASE WHEN CAST(('0x' || substr(md5(m.media_id || '|' || us.u || '|'
            || vs.v), 1, 2)) AS INT) % 2 = 0 THEN 1 ELSE 0 END AS wht
      FROM m, range(0, 8) vs(v), range(0, 8) us(u)),
    nw AS (SELECT media_id, sum(wht) AS nw FROM cells GROUP BY 1),
    bits AS (SELECT c.media_id, c.v, c.u,
        CASE WHEN c.wht = 1 AND n.nw < 64 THEN '1' ELSE '0' END AS bit
      FROM cells c JOIN nw n USING (media_id)),
    hashes AS (SELECT media_id, string_agg(bit, '' ORDER BY v * 8 + u) AS ahash
      FROM bits GROUP BY 1)
    SELECT media_id, 64 AS width, 64 AS height, ahash AS ahash_png,
      ahash AS ahash_jpg, CAST(0 AS BIGINT) AS hamming
    FROM hashes"""

  // ———————————————— dataset content digest (q184)
  // (the integrity op a 100 TB copy/migration needs: every audited row
  //  folds to a 60-bit md5 hash, rows land in 16 md5 buckets, each
  //  bucket folds to (count, XOR) — order- and partitioning-independent,
  //  O(buckets) state, plus a rollup grand-total row. Doubles and
  //  timestamps are pre-canonicalized to integers (cents, epoch-ms) so
  //  the serialization is engine-portable; the oracle rebuilds every
  //  row hash bit-for-bit.)
  val q184DatasetDigest: Q = (s, dir) =>
    graft.ops.Integrity.datasetDigest(
      Tables.orders(s, dir),
      Seq(col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
        round(col("o_totalprice") * 100).cast("long"),
        // NTZ parquet timestamp → instant under the session's UTC TZ,
        // matching DuckDB's epoch_ms on the same naive value
        unix_millis(col("o_orderdate").cast("timestamp"))),
      buckets = 16)
  private val q184Sql: String = """
    WITH c AS (SELECT md5(concat_ws('|',
        coalesce(CAST(o_orderkey AS VARCHAR), '~NULL~'),
        coalesce(CAST(o_custkey AS VARCHAR), '~NULL~'),
        coalesce(o_orderstatus, '~NULL~'),
        coalesce(CAST(CAST(round(o_totalprice * 100) AS BIGINT) AS VARCHAR),
          '~NULL~'),
        coalesce(CAST(epoch_ms(o_orderdate) AS VARCHAR), '~NULL~'))) AS h
      FROM orders),
    r AS (SELECT CAST(('0x' || substr(h, 1, 15)) AS BIGINT) AS rh,
            CAST(('0x' || substr(h, 16, 8)) AS BIGINT) % 16 AS bucket
          FROM c)
    SELECT bucket, count(*) AS n_rows, bit_xor(rh) AS digest
    FROM r GROUP BY ROLLUP(bucket)"""

  // ———————————————— streaming HLL sketch maintenance (q196)
  // (the q123 materialized-view pattern applied to a MERGEABLE SKETCH:
  //  three event_id-residue micro-batches fold register tables into a
  //  stored table by per-register max — associative, commutative,
  //  IDEMPOTENT, so any decomposition (and any at-least-once replay)
  //  lands on the one-shot build's registers. Oracle = q166's SQL
  //  rebuild over the same bounded id range. The collect exists only to
  //  make the decomposition oracle-reproducible; bounded < 900 rows.)
  val q196StreamHll: Q = (s, dir) => {
    val rows = Tables.events(s, dir)
      .select(col("event_id"), col("user_id"), col("event_type"))
      .where(col("user_id").isNotNull && col("event_type").isNotNull &&
        col("event_id") < 900)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
    val batches = (0 until 3).map(k => rows.filter(_._1 % 3 == k).toSeq)
    val path = graft.Staging.scratch("graft-hll").resolve("regs.parquet").toString
    graft.streaming.StreamingSketch.distinctUsersInBatches(s, batches, path)
  }
  private val q196Sql: String = """
    WITH h AS (SELECT event_type AS g,
        CAST(('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 15)) AS BIGINT)
          AS hv
      FROM events WHERE user_id IS NOT NULL AND event_type IS NOT NULL
        AND event_id < 900),
    r AS (SELECT g, hv % 1024 AS b,
        least(51 - length(ltrim(bin(hv >> 10), '0')), 40) AS rk
      FROM h),
    regs AS (SELECT g, b, max(rk) AS m FROM r GROUP BY 1, 2),
    z AS (SELECT g, count(*) AS n_registers,
        CAST(sum(1::BIGINT << (40 - m)) AS BIGINT)
          + (1024 - count(*)) * (1::BIGINT << 40) AS z_scaled
      FROM regs GROUP BY 1)
    SELECT g AS event_type, n_registers, z_scaled,
      round((0.7213 / (1.0 + 1.079 / 1024)) * 1024 * 1024
        * CAST(1::BIGINT << 40 AS DOUBLE) / CAST(z_scaled AS DOUBLE), 2)
        AS raw_est
    FROM z"""

  // ———————————————— BPE merge learning (q195)
  // (tokenizer training, distributed: 4 rounds of count-adjacent-pairs
  //  → argmax (count desc, lexicographic tie-break) → merge-everywhere,
  //  over the frequency-weighted vocabulary starting from characters.
  //  The oracle UNROLLS all 4 rounds, re-running the same 12-pass
  //  iterated global regexp_replace between rounds, so one mis-merged
  //  boundary on either engine flips the next round's counts.)
  val q195BpeMerges: Q = (s, dir) =>
    graft.ops.TextOps.bpeMerges(Tables.documents(s, dir), "text",
      rounds = 4)
  /** The 4-round BPE learning chain as a WITH-body fragment — shared by
    * q195 (the trainer's output) and q214 (the encoder consuming it), so
    * both oracles replay the identical merge table.
    */
  private def bpeLearnCtes: String = {
    def replaced(inner: String): String =
      (1 to 12).foldLeft(inner) { (c, _) =>
        s"regexp_replace($c, ' ' || m.t1 || ' ' || m.t2 || ' ', " +
          "' ' || m.t1 || m.t2 || ' ', 'g')"
      }
    val rounds = (1 to 4).map { r =>
      val p = r - 1
      s"""
    p$r AS MATERIALIZED (SELECT t1, t2, sum(freq) AS cnt FROM (
        SELECT freq, ts[i] AS t1, ts[i + 1] AS t2 FROM (
          SELECT freq, string_split(trim(seq), ' ') AS ts FROM s$p),
          unnest(range(1, len(ts))) u(i)) GROUP BY 1, 2),
    m$r AS MATERIALIZED (SELECT t1, t2, cnt FROM p$r
          ORDER BY cnt DESC, t1, t2 LIMIT 1),
    s$r AS MATERIALIZED (SELECT freq, ${replaced("seq")} AS seq
          FROM s$p CROSS JOIN m$r m)"""
    }.mkString(",")
    s"""wd AS (SELECT w, count(*) AS freq FROM (
        SELECT unnest(string_split(lower(text), ' ')) AS w FROM documents)
      WHERE regexp_matches(w, '^[a-z]{1,20}$$') GROUP BY 1),
    s0 AS MATERIALIZED (SELECT freq,
        ' ' || regexp_replace(w, '(.)', '\\1 ', 'g') AS seq FROM wd),$rounds"""
  }
  private val q195Sql: String = s"""
    WITH $bpeLearnCtes
    SELECT CAST(1 AS BIGINT) AS round, t1, t2, CAST(cnt AS BIGINT) AS cnt
    FROM m1
    UNION ALL SELECT 2, t1, t2, CAST(cnt AS BIGINT) FROM m2
    UNION ALL SELECT 3, t1, t2, CAST(cnt AS BIGINT) FROM m3
    UNION ALL SELECT 4, t1, t2, CAST(cnt AS BIGINT) FROM m4"""

  // ———————————————— BPE encode (q214)
  // (the inference half of q195: the learned 4-round merge table applied
  //  greedily in merge order — same 12-pass iterated replace, so encode
  //  states are byte-identical to training states — producing per-token
  //  rows with MODEL-artifact ids: a..z → 0..25, round-r product →
  //  25+r. The oracle re-learns the table via the shared CTE chain and
  //  replays the encode, so a single wrong merge boundary or id flips
  //  the hash.)
  val q214BpeEncode: Q = (s, dir) => {
    val docs = Tables.documents(s, dir)
    val merges = graft.ops.TextOps.bpeMerges(docs, "text", rounds = 4)
    graft.ops.TextOps.bpeEncode(
      docs.where(pmod(col("doc_id"), lit(5)) === 0), "text", "doc_id", merges)
  }
  /** The encode chain (learn → merge-table products → tokenized words →
    * vocabulary-sized merge replay → per-word token rows) as a WITH-body
    * fragment — shared by q214 (the per-token rows) and q220 (the packed
    * windows built on the same ids).
    */
  private def bpeEncodeCtes: String = {
    def applied(inner: String): String = (1 to 4).foldLeft(inner) { (c, r) =>
      (1 to 12).foldLeft(c) { (cc, _) =>
        s"regexp_replace($cc, ' ' || r$r.t1 || ' ' || r$r.t2 || ' ', " +
          s"' ' || r$r.t1 || r$r.t2 || ' ', 'g')"
      }
    }
    s"""$bpeLearnCtes,
    prods AS (SELECT token, 25 + min(round) AS tid FROM (
        SELECT t1 || t2 AS token, 1 AS round FROM m1
        UNION ALL SELECT t1 || t2, 2 FROM m2
        UNION ALL SELECT t1 || t2, 3 FROM m3
        UNION ALL SELECT t1 || t2, 4 FROM m4) GROUP BY 1),
    tok AS (SELECT doc_id, i AS wpos, ws[i] AS w FROM (
          SELECT doc_id, string_split(lower(text), ' ') AS ws
          FROM documents WHERE doc_id % 5 = 0),
        unnest(range(1, len(ws) + 1)) u(i)
      WHERE regexp_matches(ws[i], '^[a-z]{1,20}$$')),
    wv AS (SELECT DISTINCT w FROM tok),
    enc0 AS MATERIALIZED (SELECT w,
        ${applied("' ' || regexp_replace(w, '(.)', '\\1 ', 'g')")} AS seq
      FROM wv CROSS JOIN m1 r1 CROSS JOIN m2 r2
        CROSS JOIN m3 r3 CROSS JOIN m4 r4),
    enc AS (SELECT w, i AS tpos, ts[i] AS token FROM (
          SELECT w, string_split(trim(seq), ' ') AS ts FROM enc0),
        unnest(range(1, len(ts) + 1)) u(i))"""
  }
  private val q214Sql: String = s"""
    WITH $bpeEncodeCtes
    SELECT t.doc_id, CAST(t.wpos AS BIGINT) AS wpos,
      CAST(e.tpos AS BIGINT) AS tpos, e.token,
      CAST(coalesce(p.tid, ascii(e.token) - 97) AS BIGINT) AS token_id
    FROM tok t JOIN enc e USING (w) LEFT JOIN prods p ON p.token = e.token"""

  // ———————————————— BPE-id packed windows (q220)
  // (q83's packing over REAL tokenizer output instead of synthetic
  //  word-vocab ids: q214's BPE ids, per-doc sequences in (wpos, tpos)
  //  order, greedily packed into 500-token training windows on q83's
  //  exact shard/bin algebra. The oracle replays learn → encode → pack
  //  end-to-end through the shared CTE chain.)
  val q220BpePackedWindows: Q = (s, dir) => {
    val docs = Tables.documents(s, dir)
    val merges = graft.ops.TextOps.bpeMerges(docs, "text", rounds = 4)
    val enc = graft.ops.TextOps.bpeEncode(
      docs.where(pmod(col("doc_id"), lit(5)) === 0), "text", "doc_id", merges)
    val perDoc = enc.groupBy(col("doc_id").as("id"))
      .agg(transform(
        array_sort(collect_list(struct(col("wpos"), col("tpos"),
          col("token_id")))),
        x => x("token_id")).as("token_ids"))
    graft.ops.Sampling.packWindows(perDoc, "id", "token_ids",
      budget = 500, numShards = 4)
      .select(col("shard"), col("bin"), col("n_docs"), col("n_tokens"),
        concat_ws(",", col("window_ids").cast("array<string>")).as("ids_csv"))
  }
  private val q220Sql: String = s"""
    WITH $bpeEncodeCtes,
    per AS (SELECT t.doc_id, t.wpos, e.tpos,
          CAST(coalesce(p.tid, ascii(e.token) - 97) AS BIGINT) AS tid
        FROM tok t JOIN enc e USING (w)
        LEFT JOIN prods p ON p.token = e.token),
    csv AS (SELECT doc_id, string_agg(CAST(tid AS VARCHAR), ','
              ORDER BY wpos, tpos) AS doc_csv, count(*) AS tokens
            FROM per GROUP BY 1),
    t AS (SELECT doc_id AS id, doc_csv, tokens,
        CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 5, 4)) AS BIGINT)
          % 4 AS shard
      FROM csv),
    cum AS (SELECT id, doc_csv, tokens, shard,
        sum(tokens) OVER (PARTITION BY shard ORDER BY id
          ROWS UNBOUNDED PRECEDING) AS cum
      FROM t)
    SELECT shard, CAST(floor((cum - tokens) / 500) AS BIGINT) AS bin,
      count(*) AS n_docs, CAST(sum(tokens) AS BIGINT) AS n_tokens,
      string_agg(doc_csv, ',' ORDER BY id) AS ids_csv
    FROM cum GROUP BY 1, 2"""

  // ———————————————— exact-substring dedup (q215)
  // (character-level complement to the 13-gram detect→excise chain:
  //  longest shared substring per LSH candidate pair via sorted-suffix
  //  blocks — suffix ordering within pairs, never corpus-wide; LCP is
  //  first-mismatch algebra shared verbatim with the oracle; lengths
  //  saturate at the 256-char cap. maxBucket = the filtered set's size,
  //  provably a no-op for the oracle — the q21 convention.)
  val q215ExactSubstring: Q = (s, dir) =>
    graft.ops.Dedup.exactSubstringPairs(
      Tables.documents(s, dir).filter(col("doc_id") < 1000),
      "text", "doc_id", minLen = 100, shingleN = 3, numHashes = 12,
      rowsPerBand = 3, maxBucket = 1000, maxReport = 256)
  private val q215Sql: String = """
    WITH d AS (SELECT doc_id, text, string_split(lower(text), ' ') AS w
               FROM documents WHERE doc_id < 1000),
    idx AS (SELECT doc_id, w, unnest(range(1, len(w) - 1)) AS i FROM d),
    sh AS (SELECT DISTINCT doc_id,
             w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS shingle FROM idx),
    hx AS (SELECT doc_id, unnest(range(0, 12)) AS i, shingle FROM sh),
    sigs AS (SELECT doc_id, i,
               min(md5(CAST(i AS VARCHAR) || '|' || shingle)) AS sig
             FROM hx GROUP BY 1, 2),
    bands AS (SELECT doc_id, CAST(i // 3 AS INT) AS band,
                md5(max(CASE WHEN i % 3 = 0 THEN sig END)
                 || max(CASE WHEN i % 3 = 1 THEN sig END)
                 || max(CASE WHEN i % 3 = 2 THEN sig END)) AS band_sig
              FROM sigs GROUP BY 1, 2),
    cand AS (SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
             FROM bands x JOIN bands y
               ON x.band = y.band AND x.band_sig = y.band_sig
                  AND x.doc_id < y.doc_id),
    pt AS (SELECT c.a, c.b, x.text AS ta, y.text AS tb
           FROM cand c JOIN d x ON x.doc_id = c.a JOIN d y ON y.doc_id = c.b),
    su AS (
      SELECT a, b, 0 AS side, substr(ta, CAST(i AS INT), 256) AS suf
      FROM pt, unnest(range(1, length(ta) + 1)) u(i)
      UNION ALL
      SELECT a, b, 1, substr(tb, CAST(i AS INT), 256)
      FROM pt, unnest(range(1, length(tb) + 1)) u(i)),
    adj AS (SELECT a, b, suf, side,
             lag(suf) OVER w AS p, lag(side) OVER w AS ps
           FROM su WINDOW w AS (PARTITION BY a, b ORDER BY suf, side)),
    lcps AS (SELECT a, b,
             coalesce(list_min(list_filter(
                 range(1, least(length(p), length(suf)) + 1),
                 k -> substr(p, CAST(k AS INT), 1)
                   <> substr(suf, CAST(k AS INT), 1))) - 1,
               least(length(p), length(suf))) AS lcp,
             suf
           FROM adj WHERE ps IS NOT NULL AND ps <> side),
    rk AS (SELECT a, b, CAST(lcp AS BIGINT) AS lcs_len,
            substr(suf, 1, CAST(lcp AS INT)) AS shared,
            row_number() OVER (PARTITION BY a, b
              ORDER BY lcp DESC, substr(suf, 1, CAST(lcp AS INT))) AS rn
          FROM lcps)
    SELECT a, b, lcs_len, shared FROM rk WHERE rn = 1 AND lcs_len >= 100"""

  // ———————————————— interval merge / coverage islands (q193)
  // (merge each user's event intervals [ts, ts + |value|·1000 ms] into
  //  maximal islands — overlap-safe coverage, the interval-algebra
  //  staple. One per-key sort carries running-max, island flag, and
  //  island id; islands aggregate map-side. All epoch-ms integers.)
  val q193IntervalMerge: Q = (s, dir) => {
    val ev = Tables.events(s, dir)
      .where(col("value").isNotNull)
      .select(col("user_id"),
        unix_millis(col("ts").cast("timestamp")).as("s_ms"),
        (unix_millis(col("ts").cast("timestamp"))
          + abs(round(col("value") * 1000)).cast("long")).as("e_ms"))
    graft.ops.TimeSeries.mergeIntervals(ev, "user_id", "s_ms", "e_ms")
  }
  private val q193Sql: String = """
    WITH iv AS (SELECT user_id AS k, epoch_ms(ts) AS s,
            epoch_ms(ts) + CAST(abs(round(value * 1000)) AS BIGINT) AS e
          FROM events
          WHERE user_id IS NOT NULL AND ts IS NOT NULL
            AND value IS NOT NULL),
    m AS (SELECT k, s, e,
            CASE WHEN max(e) OVER w IS NULL OR s > max(e) OVER w
                 THEN 1 ELSE 0 END AS ni
          FROM iv WINDOW w AS (PARTITION BY k ORDER BY s, e
            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)),
    i AS (SELECT k, s, e, sum(ni) OVER (PARTITION BY k ORDER BY s, e
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island
          FROM m)
    SELECT k AS user_id, min(s) AS island_start, max(e) AS island_end,
      count(*) AS n_intervals
    FROM i GROUP BY k, island"""

  // ———————————————— incremental join view maintenance (q194)
  // (the IVM delta rule ΔV = ΔA⋈B ∪ A⋈ΔB folded over an interleaved
  //  arrival order — orders in 3 batches, customers in 2; every (a,b)
  //  pair lands exactly once, when the later row arrives. The oracle
  //  is the LAW: the maintained view must hash-equal the one-shot
  //  join of the full sides.)
  val q194IncrementalJoin: Q = (s, dir) => {
    val o = Tables.orders(s, dir).select(col("o_orderkey"),
      col("o_custkey").as("k"),
      round(col("o_totalprice") * 100).cast("long").as("cents"))
    val c = Tables.customer(s, dir).select(col("c_custkey").as("k"),
      col("c_nationkey"))
    def ob(i: Int) = o.where(pmod(col("o_orderkey"), lit(3)) === i)
    def cb(i: Int) = c.where(pmod(col("k"), lit(2)) === i)
    graft.ops.Relational.incrementalJoinFold(Seq(
      true -> ob(0), false -> cb(0), true -> ob(1),
      false -> cb(1), true -> ob(2)), "k")
  }
  private val q194Sql: String = """
    SELECT o_orderkey, o_custkey AS k,
      CAST(round(o_totalprice * 100) AS BIGINT) AS cents, c_nationkey
    FROM orders JOIN customer ON o_custkey = c_custkey"""

  // ———————————————— differentially-private count release (q192)
  // (Laplace(1/ε) noise on per-event_type counts, ε=0.5 — noise drawn
  //  deterministically from the md5 lattice via the Laplace inverse
  //  CDF, so a rerun releases the SAME noise instead of averaging it
  //  away; 6 d.p. round absorbs last-ulp libm ln differences.)
  val q192DpCounts: Q = (s, dir) =>
    graft.ops.Privacy.dpNoisyCounts(Tables.events(s, dir), "event_type",
      epsilon = 0.5, seed = 1L)
  private val q192Sql: String = """
    WITH c AS (SELECT event_type AS g, count(*) AS n_true FROM events
               WHERE event_type IS NOT NULL GROUP BY 1),
    u AS (SELECT g, n_true,
            (CAST(('0x' || substr(md5('dp|1|' || g), 1, 15)) AS BIGINT)
              + 0.5) / 1152921504606846976.0 AS u
          FROM c)
    SELECT g AS event_type, n_true,
      round(n_true - 2.0 *
        (CASE WHEN u - 0.5 > 0 THEN 1.0
              WHEN u - 0.5 < 0 THEN -1.0 ELSE 0.0 END)
        * ln(1.0 - 2.0 * abs(u - 0.5)), 6) AS noisy6
    FROM u"""

  // ———————————————— referential delete cascade audit (q191)
  // (GDPR right-to-be-forgotten propagation: tombstoned customers
  //  (c_custkey % 97 = 0) cascade through orders into lineitem via
  //  semi-joins, and each level emits (n_before, n_deleted, XOR-of-md5
  //  key digest) — the count catches multiplicity, the digest pins
  //  EXACTLY which rows each level removed, q184 discipline.)
  val q191CascadeDelete: Q = (s, dir) => {
    val c = Tables.customer(s, dir)
    val o = Tables.orders(s, dir)
    val l = Tables.lineitem(s, dir)
    val tomb = c.where(pmod(col("c_custkey"), lit(97)) === 0)
      .select(col("c_custkey"))
    val delC = graft.ops.Relational.cascadeStep(c, "c_custkey", tomb)
    val delO = graft.ops.Relational.cascadeStep(o, "o_custkey",
      delC.select(col("c_custkey")))
    val delL = graft.ops.Relational.cascadeStep(l, "l_orderkey",
      delO.select(col("o_orderkey")))
    graft.ops.Relational.cascadeAudit("customer", c, delC, col("c_custkey"))
      .unionByName(graft.ops.Relational.cascadeAudit("orders", o, delO,
        col("o_orderkey")))
      .unionByName(graft.ops.Relational.cascadeAudit("lineitem", l, delL,
        concat(col("l_orderkey").cast("string"), lit("|"),
          col("l_linenumber").cast("string"))))
  }
  private val q191Sql: String = """
    WITH delc AS (SELECT c_custkey FROM customer WHERE c_custkey % 97 = 0),
    delo AS (SELECT o_orderkey FROM orders
             WHERE o_custkey IN (SELECT c_custkey FROM delc)),
    dell AS (SELECT l_orderkey, l_linenumber FROM lineitem
             WHERE l_orderkey IN (SELECT o_orderkey FROM delo))
    SELECT 'customer' AS tbl,
      (SELECT count(*) FROM customer) AS n_before,
      (SELECT count(*) FROM delc) AS n_deleted,
      (SELECT coalesce(bit_xor(CAST(('0x' ||
          substr(md5(CAST(c_custkey AS VARCHAR)), 1, 15)) AS BIGINT)), 0)
        FROM delc) AS del_digest
    UNION ALL
    SELECT 'orders',
      (SELECT count(*) FROM orders),
      (SELECT count(*) FROM delo),
      (SELECT coalesce(bit_xor(CAST(('0x' ||
          substr(md5(CAST(o_orderkey AS VARCHAR)), 1, 15)) AS BIGINT)), 0)
        FROM delo)
    UNION ALL
    SELECT 'lineitem',
      (SELECT count(*) FROM lineitem),
      (SELECT count(*) FROM dell),
      (SELECT coalesce(bit_xor(CAST(('0x' ||
          substr(md5(CAST(l_orderkey AS VARCHAR) || '|' ||
            CAST(l_linenumber AS VARCHAR)), 1, 15)) AS BIGINT)), 0)
        FROM dell)"""

  // ———————————————— bitmap segment overlap (q190)
  // (the OLAP bitmap-index trick: each event_type's user set packs into
  //  32-members-per-word bitmap rows, and pairwise audience overlap is
  //  a word-aligned AND + bit_count — work ∝ occupied words, never
  //  |A|·|B| members. All integers; Jaccard floored to ppm.)
  val q190BitmapOverlap: Q = (s, dir) =>
    graft.ops.Sketches.bitmapOverlap(
      graft.ops.Sketches.bitmapSegments(
        Tables.events(s, dir), "event_type", "user_id"))
  private val q190Sql: String = """
    WITH m AS (SELECT event_type AS seg, user_id AS mb FROM events
               WHERE event_type IS NOT NULL AND user_id IS NOT NULL),
    bm AS (SELECT seg, mb // 32 AS word,
             bit_or(1::BIGINT << CAST(mb % 32 AS INT)) AS mask
           FROM m GROUP BY 1, 2),
    sz AS (SELECT seg, CAST(sum(bit_count(mask)) AS BIGINT) AS n
           FROM bm GROUP BY 1),
    iv AS (SELECT a.seg AS seg_a, b.seg AS seg_b,
             CAST(sum(bit_count(a.mask & b.mask)) AS BIGINT) AS n_both
           FROM bm a JOIN bm b USING (word)
           WHERE a.seg < b.seg GROUP BY 1, 2)
    SELECT seg_a, seg_b, sa.n AS n_a, sb.n AS n_b, n_both,
      CAST(floor(n_both * 1e6 / (sa.n + sb.n - n_both)) AS BIGINT)
        AS jaccard_ppm
    FROM iv
    JOIN sz sa ON sa.seg = iv.seg_a
    JOIN sz sb ON sb.seg = iv.seg_b"""

  // ———————————————— cross-source quantile normalization (q188)
  // (map each source's n_chars distribution onto the pooled one so
  //  per-source scores become comparable before mixing — (group,value)
  //  granularity, all-integer target ranks, value-cardinality windows
  //  only, broadcast range join onto pooled rank ranges.)
  val q188QuantileNorm: Q = (s, dir) =>
    graft.ops.Analytics.quantileNormalize(
      Tables.documents(s, dir), "source", "n_chars")
  private val q188Sql: String = """
    WITH vals AS (SELECT source AS g, n_chars AS v FROM documents
                  WHERE n_chars IS NOT NULL AND source IS NOT NULL),
    gv AS (SELECT g, v, count(*) AS n FROM vals GROUP BY 1, 2),
    cumg AS (SELECT g, v, n,
               sum(n) OVER (PARTITION BY g ORDER BY v) AS r FROM gv),
    ng AS (SELECT g, sum(n) AS n_g FROM gv GROUP BY 1),
    nn AS (SELECT count(*) AS n_all FROM vals),
    pooled AS (SELECT v AS norm_v,
                 sum(n) OVER (ORDER BY v) - n + 1 AS lo,
                 sum(n) OVER (ORDER BY v) AS hi
               FROM (SELECT v, count(*) AS n FROM vals GROUP BY 1)),
    tgt AS (SELECT c.g, c.v, c.n,
              CAST(((c.r - 1) * (SELECT n_all FROM nn)) // ng.n_g + 1
                AS BIGINT) AS t
            FROM cumg c JOIN ng ON c.g = ng.g)
    SELECT g, v, n, t, p.norm_v
    FROM tgt JOIN pooled p ON t >= p.lo AND t <= p.hi"""

  // ———————————————— stupid-backoff trigram LM scoring (q187)
  // (train on even doc_ids, score odd ones — the held-out split is what
  //  makes the backoff ladder actually fire, unlike q113's self-scored
  //  JM bigram. Per-level integer counts ride along, so a mis-joined
  //  count table breaks the hash even where the 6 d.p. mean forgives
  //  float noise. All literals CAST AS DOUBLE in the oracle — DuckDB
  //  would otherwise do DECIMAL arithmetic on 0.4.)
  val q187StupidBackoff: Q = (s, dir) => {
    val docs = Tables.documents(s, dir)
    graft.ops.TextOps.stupidBackoffScore(
      docs.where(pmod(col("doc_id"), lit(2)) === 0),
      docs.where(pmod(col("doc_id"), lit(2)) === 1),
      "text", "doc_id")
  }
  private val q187Sql: String = """
    WITH tr AS (SELECT doc_id, string_split(lower(text), ' ') AS w
                FROM documents WHERE doc_id % 2 = 0),
    sc AS (SELECT doc_id, string_split(lower(text), ' ') AS w
           FROM documents WHERE doc_id % 2 = 1),
    tt AS (SELECT doc_id, w, unnest(range(1, len(w) + 1)) AS i FROM tr),
    tg AS (SELECT doc_id, w[i] AS w1, w[i + 1] AS w2, w[i + 2] AS w3,
             i, len(w) AS lw FROM tt),
    c1 AS (SELECT w1 AS w, count(*) AS c1 FROM tg GROUP BY 1),
    c2 AS (SELECT w1, w2, count(*) AS c2 FROM tg
           WHERE i + 1 <= lw GROUP BY 1, 2),
    c3 AS (SELECT w1, w2, w3, count(*) AS c3 FROM tg
           WHERE i + 2 <= lw GROUP BY 1, 2, 3),
    n AS (SELECT CAST(sum(c1) AS BIGINT) AS n FROM c1),
    si AS (SELECT doc_id, w, unnest(range(1, len(w) - 1)) AS i FROM sc),
    st AS (SELECT doc_id, w[i] AS w1, w[i + 1] AS w2, w[i + 2] AS w3
           FROM si),
    j AS (SELECT s.doc_id, c3.c3, c2p.c2 AS c2p, c2b.c2 AS c2b,
            u2.c1 AS c1w2, u3.c1 AS c1w3
          FROM st s
          LEFT JOIN c3 ON c3.w1 = s.w1 AND c3.w2 = s.w2 AND c3.w3 = s.w3
          LEFT JOIN c2 c2p ON c2p.w1 = s.w1 AND c2p.w2 = s.w2
          LEFT JOIN c2 c2b ON c2b.w1 = s.w2 AND c2b.w2 = s.w3
          LEFT JOIN c1 u2 ON u2.w = s.w2
          LEFT JOIN c1 u3 ON u3.w = s.w3),
    lv AS (SELECT doc_id,
            CASE WHEN c3 IS NOT NULL THEN 'tri'
                 WHEN c2b IS NOT NULL THEN 'bi'
                 WHEN c1w3 IS NOT NULL THEN 'uni'
                 ELSE 'oov' END AS lvl,
            CASE WHEN c3 IS NOT NULL THEN c3 / c2p
                 WHEN c2b IS NOT NULL THEN
                   CAST(0.4 AS DOUBLE) * c2b / c1w2
                 WHEN c1w3 IS NOT NULL THEN
                   CAST(0.4 AS DOUBLE) * CAST(0.4 AS DOUBLE) * c1w3
                     / (SELECT n FROM n)
                 ELSE CAST(0.4 AS DOUBLE) * CAST(0.4 AS DOUBLE)
                     * CAST(0.4 AS DOUBLE) / (SELECT n FROM n) END AS score
           FROM j)
    SELECT doc_id AS id, round(avg(ln(score)), 6) AS score6,
      count(CASE WHEN lvl = 'tri' THEN 1 END) AS n_tri,
      count(CASE WHEN lvl = 'bi' THEN 1 END) AS n_bi,
      count(CASE WHEN lvl = 'uni' THEN 1 END) AS n_uni,
      count(CASE WHEN lvl = 'oov' THEN 1 END) AS n_oov
    FROM lv GROUP BY 1"""

  // ———————————————— k-core decomposition (q186)
  // (iterative peeling on q168's pseudo-link graph at k=4: drop nodes
  //  with <4 surviving neighbors until fixpoint — 3 rounds at sf0.01,
  //  6 at sf0.1. The oracle UNROLLS 12 peel rounds; peeling is
  //  idempotent at the fixpoint so over-unrolling is exact, and the
  //  Spark op fails loudly past 12 rounds instead of silently
  //  diverging from the unroll.)
  val q186KCore: Q = (s, dir) => {
    val docs = Tables.documents(s, dir)
    graft.ops.Graph.kCore(
      graft.ops.Graph.pseudoEdges(docs.select(col("doc_id")), "doc_id",
        docs.count()), k = 4, maxRounds = 12)
  }
  private val q186Sql: String = {
    // MATERIALIZED: each a_r is referenced twice by a_{r+1}; DuckDB
    // inlines plain CTEs per reference, which expands the 12-round
    // chain 2¹²-fold and exhausts file descriptors on the parquet scan
    val rounds = (1 to 12).map { r =>
      s"""
    a$r AS MATERIALIZED (SELECT e.i FROM sym e JOIN a${r - 1} x ON e.i = x.i
            JOIN a${r - 1} y ON e.nb = y.i
            GROUP BY 1 HAVING count(*) >= 4)"""
    }.mkString(",")
    s"""
    WITH nodes AS (SELECT doc_id AS node FROM documents),
    nn AS (SELECT count(*) AS n FROM nodes),
    raw AS (SELECT node AS src,
        CAST(('0x' || substr(md5(CAST(node AS VARCHAR) || '|' ||
          CAST(j AS VARCHAR)), 1, 8)) AS BIGINT)
          % (SELECT n FROM nn) AS tgt
      FROM nodes, unnest(range(0, 3)) t(j)),
    e AS (SELECT DISTINCT src, tgt FROM raw WHERE tgt <> src),
    und AS (SELECT DISTINCT least(src, tgt) AS a, greatest(src, tgt) AS b
            FROM e),
    sym AS MATERIALIZED (SELECT a AS i, b AS nb FROM und
            UNION ALL SELECT b, a FROM und),
    a0 AS MATERIALIZED (SELECT DISTINCT i FROM sym),$rounds
    SELECT e.i AS id, count(*) AS core_deg
    FROM sym e JOIN a12 x ON e.i = x.i JOIN a12 y ON e.nb = y.i
    GROUP BY 1"""
  }

  // ———————————————— Jaro-Winkler best-match linkage (q185)
  // (record linkage between two registries — even- vs odd-keyed
  //  customers, blocked by nation: every left record gets its single
  //  best right match by the native [[graft.functions.JaroWinkler]]
  //  kernel, pinned byte-for-byte to DuckDB's jaro_winkler_similarity;
  //  scores compare in exact PPM and the argmax packs (ppm, ¬id) into
  //  one max()-able long, so the oracle's row_number formulation must
  //  pick the identical winner for every left row.)
  val q185JaroLinkage: Q = (s, dir) => {
    val c = Tables.customer(s, dir)
    graft.ops.Dedup.blockedBestMatch(
      c.where(pmod(col("c_custkey"), lit(2)) === 0),
      c.where(pmod(col("c_custkey"), lit(2)) === 1),
      "c_custkey", "c_name", col("c_nationkey"))
  }
  private val q185Sql: String = """
    WITH l0 AS (SELECT c_custkey AS a, c_name AS ta, c_nationkey AS blk
                FROM customer WHERE c_custkey % 2 = 0),
    r0 AS (SELECT c_custkey AS b, c_name AS tb, c_nationkey AS blk
           FROM customer WHERE c_custkey % 2 = 1),
    l AS (SELECT * FROM l0 WHERE blk IN
            (SELECT blk FROM l0 GROUP BY blk HAVING count(*) <= 10000)),
    r AS (SELECT * FROM r0 WHERE blk IN
            (SELECT blk FROM r0 GROUP BY blk HAVING count(*) <= 10000)),
    cand AS (SELECT a, b,
        CAST(round(jaro_winkler_similarity(ta, tb) * 1000000) AS BIGINT)
          AS jw_ppm
      FROM l JOIN r USING (blk)),
    rk AS (SELECT a, b, jw_ppm,
             row_number() OVER (PARTITION BY a
               ORDER BY jw_ppm DESC, b) AS rn FROM cand)
    SELECT a, b, jw_ppm FROM rk WHERE rn = 1"""

  // ———————————————— Louvain one-level communities (q182)
  // (4 parity-alternating rounds of greedy label moves over q168's
  //  pseudo-link graph, from singleton communities — exact-integer
  //  scores 2m·k_ic − k_i·σ^{−i}(c), min-community tie-break. The
  //  oracle UNROLLS every round in SQL: the same candidate set, score
  //  and argmax per node per round, so one mis-ordered tie or a stale
  //  σ table on either engine flips a label and the hash.)
  val q182Louvain: Q = (s, dir) => {
    val docs = Tables.documents(s, dir)
    graft.ops.Graph.louvainMoves(docs.select(col("doc_id")), "doc_id",
      graft.ops.Graph.pseudoEdges(docs.select(col("doc_id")), "doc_id",
        docs.count()))
  }
  val q182Sql: String = {
    val rounds = (1 to 4).map { r =>
      val p = r - 1
      s"""
    cd$r AS (SELECT l.com, sum(d.k) AS sigma FROM l$p l
             JOIN deg d ON d.i = l.id GROUP BY 1),
    cand$r AS (SELECT i, c, max(kic) AS kic FROM (
        SELECT s.i, lp.com AS c, CAST(count(*) AS BIGINT) AS kic
        FROM sym s JOIN l$p lp ON lp.id = s.nb GROUP BY 1, 2
        UNION ALL SELECT id, com, CAST(0 AS BIGINT) FROM l$p) GROUP BY 1, 2),
    sc$r AS (SELECT cand.i, cand.c,
        2 * (SELECT m FROM m) * cand.kic
          - coalesce(dg.k, 0) * (coalesce(cd.sigma, 0)
            - CASE WHEN cand.c = lp.com THEN coalesce(dg.k, 0) ELSE 0 END)
          AS score
      FROM cand$r cand
      JOIN l$p lp ON lp.id = cand.i
      LEFT JOIN deg dg ON dg.i = cand.i
      LEFT JOIN cd$r cd ON cd.com = cand.c),
    bst$r AS (SELECT i, c FROM (SELECT i, c,
        row_number() OVER (PARTITION BY i ORDER BY score DESC, c ASC) AS rn
      FROM sc$r) WHERE rn = 1),
    l$r AS (SELECT l.id,
        CASE WHEN (l.id + $r) % 2 = 0 THEN coalesce(b.c, l.com)
             ELSE l.com END AS com
      FROM l$p l LEFT JOIN bst$r b ON b.i = l.id)"""
    }.mkString(",")
    s"""
    WITH nodes AS (SELECT doc_id AS node FROM documents),
    nn AS (SELECT count(*) AS n FROM nodes),
    raw AS (SELECT node AS src,
              CAST(('0x' || substr(md5(CAST(node AS VARCHAR) || '|' ||
                CAST(j AS VARCHAR)), 1, 8)) AS BIGINT)
                % (SELECT n FROM nn) AS tgt
            FROM nodes, unnest(range(0, 3)) t(j)),
    edges AS (SELECT DISTINCT src, tgt FROM raw WHERE tgt <> src),
    und AS (SELECT DISTINCT least(src, tgt) AS a, greatest(src, tgt) AS b
            FROM edges),
    m AS (SELECT count(*) AS m FROM und),
    sym AS (SELECT a AS i, b AS nb FROM und
            UNION ALL SELECT b, a FROM und),
    deg AS (SELECT i, CAST(count(*) AS BIGINT) AS k FROM sym GROUP BY 1),
    l0 AS (SELECT node AS id, node AS com FROM nodes),$rounds
    SELECT id, com AS cluster FROM l4"""
  }

  val all: Map[String, Q] = Map(
    "q184_dataset_digest" -> q184DatasetDigest,
    "q185_jaro_linkage" -> q185JaroLinkage,
    "q186_kcore" -> q186KCore,
    "q187_stupid_backoff" -> q187StupidBackoff,
    "q188_quantile_norm" -> q188QuantileNorm,
    "q189_keyframes" -> q189Keyframes,
    "q190_bitmap_overlap" -> q190BitmapOverlap,
    "q191_cascade_delete" -> q191CascadeDelete,
    "q192_dp_counts" -> q192DpCounts,
    "q193_interval_merge" -> q193IntervalMerge,
    "q194_incremental_join" -> q194IncrementalJoin,
    "q195_bpe_merges" -> q195BpeMerges,
    "q214_bpe_encode" -> q214BpeEncode,
    "q220_bpe_packed_windows" -> q220BpePackedWindows,
    "q215_exact_substring" -> q215ExactSubstring,
    "q216_image_phash" -> q216ImagePhash,
    "q277_image_dhash" -> q277ImageDhash,
    "q290_letterbox" -> q290Letterbox,
    "q291_color_hist" -> q291ColorHist,
    "q226_resize_pixels" -> q226Resize,
    "q229_ndcg" -> q229Ndcg,
    "q236_mrr" -> q236Mrr,
    "q218_personalized_pagerank" -> q218PersonalizedPagerank,
    "q222_hits" -> q222Hits,
    "q196_stream_hll" -> q196StreamHll,
    "q182_louvain" -> q182Louvain,
    "q181_cross_format_neardup" -> q181CrossFormatNearDup,
    "q179_quantile_sketch" -> q179QuantileSketch,
    "q180_quantile_sketch_merged" -> q180QuantileSketchMerged,
    "q178_robust_scale" -> q178RobustScale,
    "q177_scd2_incremental" -> q177Scd2Incremental,
    "q176_rate_limit" -> q176RateLimit,
    "q171_kappa" -> q171Kappa,
    "q172_source_overlap" -> q172SourceOverlap,
    "q173_fisher_dims" -> q173FisherDims,
    "q174_edit_ratio_neardup" -> q174EditRatioNearDup,
    "q166_hll_distinct" -> q166HllDistinct,
    "q167_soft_dedup_weights" -> q167SoftDedupWeights,
    "q168_modularity" -> q168Modularity,
    "q169_profile" -> q169Profile,
    "q170_scd2_asof" -> q170Scd2AsOf,
    "q162_silhouette" -> q162Silhouette,
    "q163_bootstrap_ci" -> q163BootstrapCi,
    "q164_lpm_join" -> q164LpmJoin,
    "q158_cms_counts" -> q158CmsCounts,
    "q159_top_pc" -> q159TopPc,
    "q161_dbscan" -> q161Dbscan,
    "q000_scheduler_control" -> q000SchedulerControl,
    "q154_ks_drift" -> q154KsDrift,
    "q155_calibration" -> q155Calibration,
    "q149_fuzzy_join" -> q149FuzzyJoin,
    "q150_mad_outliers" -> q150MadOutliers,
    "q151_ab_test" -> q151AbTest,
    "q152_gini" -> q152Gini,
    "q153_serpentine_shards" -> q153SerpentineShards,
    "q144_containment_join" -> q144ContainmentJoin,
    "q145_kcenter_coreset" -> q145KcenterCoreset,
    "q147_chi2_terms" -> q147Chi2Terms,
    "q148_leakage_safe_split" -> q148LeakageSafeSplit,
    "q132_radius_join" -> q132RadiusJoin,
    "q133_prefix_ssjoin" -> q133PrefixSsjoin,
    "q138_embed_covariance" -> q138EmbedCovariance,
    "q139_hard_negatives" -> q139HardNegatives,
    "q140_label_agg" -> q140LabelAgg,
    "q141_whiten_embeddings" -> q141WhitenEmbeddings,
    "q143_canonical_keepers" -> q143CanonicalKeepers,
    "q19_dedup_exact" -> q19DedupExact,
    "q20_ngram_jaccard" -> q20NgramJaccard,
    "q21_minhash_lsh" -> q21MinhashLsh,
    "q22_simhash" -> q22Simhash,
    "q23_embed_neardup" -> q23EmbedNearDup,
    "q24_ann_brute" -> q24AnnBrute,
    "q25_ann_ivf" -> q25AnnIvf,
    "q26_lang_id" -> q26LangId,
    "q27_quality" -> q27Quality,
    "q28_token_count" -> q28TokenCount,
    "q29_fingerprint" -> q29Fingerprint,
    "q30_multimodal" -> q30Multimodal,
    "q40_lsh_neardup" -> q40LshNearDup,
    "q41_winnowing" -> q41Winnowing,
    "q42_jaccard_df_pruned" -> q42JaccardDfPruned,
    "q43_ann_ivf_indexed" -> q43AnnIvfIndexed,
    "q44_simhash_neardup" -> q44SimhashNearDup,
    "q49_dedup_clusters" -> q49DedupClusters,
    "q50_ann_batch" -> q50AnnBatch,
    "q53_split_assign" -> q53SplitAssign,
    "q54_frame_sample" -> q54FrameSample,
    "q56_minhash_verified" -> q56MinhashVerified,
    "q58_simhash64" -> q58Simhash64,
    "q59_simhash64_neardup" -> q59Simhash64NearDup,
    "q60_ann_ivf_batch" -> q60AnnIvfBatch,
    "q61_dedup_pipeline" -> q61DedupPipeline,
    "q62_quality_filter" -> q62QualityFilter,
    "q63_vocabulary" -> q63Vocabulary,
    "q64_tfidf" -> q64TfIdf,
    "q65_cross_corpus" -> q65CrossCorpus,
    "q66_dedup_ingest" -> q66DedupIngest,
    "q67_stratified_sample" -> q67StratifiedSample,
    "q68_pack_sequences" -> q68PackSequences,
    "q69_quantized_ann" -> q69QuantizedAnn,
    "q70_tokenize_ids" -> q70TokenizeIds,
    "q71_contamination" -> q71Contamination,
    "q72_corpus_build" -> q72CorpusBuild,
    "q73_span_dedup" -> q73SpanDedup,
    "q74_repetition" -> q74Repetition,
    "q75_pii_redact" -> q75PiiRedact,
    "q76_bloom_admission" -> q76BloomAdmission,
    "q77_mixture_sample" -> q77MixtureSample,
    "q78_pq_ann" -> q78PqAnn,
    "q80_ivfpq_ann" -> q80IvfPqAnn,
    "q81_semantic_dedup" -> q81SemanticDedup,
    "q82_unigram_logprob" -> q82UnigramLogprob,
    "q83_packed_windows" -> q83PackedWindows,
    "q86_clean_corpus" -> q86CleanCorpus,
    "q87_contamination_spans" -> q87ContaminationSpans,
    "q89_audio_stats" -> q89AudioStats,
    "q90_domain_cap" -> q90DomainCap,
    "q91_normalized_dedup" -> q91NormalizedDedup,
    "q92_chunk_docs" -> q92ChunkDocs,
    "q93_quality_model" -> q93QualityModel,
    "q94_corpus_report" -> q94CorpusReport,
    "q95_temperature_mix" -> q95TemperatureMix,
    "q96_heavy_hitters" -> q96HeavyHitters,
    "q99_decontaminate" -> q99Decontaminate,
    "q100_image_ahash" -> q100ImageAhash,
    "q102_pagerank" -> q102Pagerank,
    "q103_html_extract" -> q103HtmlExtract,
    "q104_bm25" -> q104Bm25,
    "q109_kmv_distinct" -> q109KmvDistinct,
    "q111_phrase_search" -> q111PhraseSearch,
    "q112_url_canon" -> q112UrlCanon,
    "q113_bigram_logprob" -> q113BigramLogprob,
    "q114_pmi_pairs" -> q114PmiPairs,
    "q117_entity_resolution" -> q117EntityResolution,
    "q120_hybrid_rrf" -> q120HybridRrf,
    "q122_dim_stats" -> q122DimStats,
    "q124_triangles" -> q124Triangles,
    "q125_image_neardup" -> q125ImageNearDup,
    "q128_trigram_search" -> q128TrigramSearch,
    "q129_weighted_sample" -> q129WeightedSample,
    "q130_rendezvous_shard" -> q130RendezvousShard,
    "q131_span_mask" -> q131SpanMask)

  val oracles: Map[String, String] = Map(
    "q184_dataset_digest" -> q184Sql,
    "q185_jaro_linkage" -> q185Sql,
    "q186_kcore" -> q186Sql,
    "q187_stupid_backoff" -> q187Sql,
    "q188_quantile_norm" -> q188Sql,
    "q189_keyframes" -> q189Sql,
    "q190_bitmap_overlap" -> q190Sql,
    "q191_cascade_delete" -> q191Sql,
    "q192_dp_counts" -> q192Sql,
    "q193_interval_merge" -> q193Sql,
    "q194_incremental_join" -> q194Sql,
    "q195_bpe_merges" -> q195Sql,
    "q214_bpe_encode" -> q214Sql,
    "q220_bpe_packed_windows" -> q220Sql,
    "q215_exact_substring" -> q215Sql,
    "q216_image_phash" -> q216Sql,
    "q277_image_dhash" -> q277Sql,
    "q290_letterbox" -> q290Sql,
    "q291_color_hist" -> q291Sql,
    "q226_resize_pixels" -> q226Sql,
    "q229_ndcg" -> q229Sql,
    "q236_mrr" -> q236Sql,
    "q218_personalized_pagerank" -> q218Sql,
    "q222_hits" -> q222Sql,
    "q196_stream_hll" -> q196Sql,
    "q182_louvain" -> q182Sql,
    "q181_cross_format_neardup" -> q181Sql,
    "q179_quantile_sketch" -> q179Sql,
    // the exact merge law: merged half-sketches ≡ the direct build,
    // so q180 is gated by the same SQL — equality IS the law, verified
    // cross-engine
    "q180_quantile_sketch_merged" -> q179Sql,
    "q178_robust_scale" -> q178Sql,
    "q177_scd2_incremental" -> q177Sql,
    "q176_rate_limit" -> q176Sql,
    "q171_kappa" -> q171Sql,
    "q172_source_overlap" -> q172Sql,
    "q173_fisher_dims" -> q173Sql,
    "q174_edit_ratio_neardup" -> q174Sql,
    "q166_hll_distinct" -> q166Sql,
    "q167_soft_dedup_weights" -> q167Sql,
    "q168_modularity" -> q168Sql,
    "q169_profile" -> q169Sql,
    "q170_scd2_asof" -> q170Sql,
    "q162_silhouette" -> q162Sql,
    "q163_bootstrap_ci" -> q163Sql,
    "q164_lpm_join" -> q164Sql,
    "q158_cms_counts" -> q158Sql,
    "q159_top_pc" -> q159Sql,
    "q161_dbscan" -> q161Sql,
    "q000_scheduler_control" -> q000Sql,
    "q154_ks_drift" -> q154Sql,
    "q155_calibration" -> q155Sql,
    "q149_fuzzy_join" -> q149Sql,
    "q150_mad_outliers" -> q150Sql,
    "q151_ab_test" -> q151Sql,
    "q152_gini" -> q152Sql,
    "q153_serpentine_shards" -> q153Sql,
    "q144_containment_join" -> q144Sql,
    "q145_kcenter_coreset" -> q145Sql,
    "q147_chi2_terms" -> q147Sql,
    "q148_leakage_safe_split" -> q148Sql,
    "q19_dedup_exact" -> q19Sql,
    "q20_ngram_jaccard" -> q20Sql,
    "q21_minhash_lsh" -> q21Sql,
    "q22_simhash" -> q22Sql,
    "q23_embed_neardup" -> q23Sql,
    "q24_ann_brute" -> q24Sql,
    "q25_ann_ivf" -> q25Sql,
    "q26_lang_id" -> q26Sql,
    "q27_quality" -> q27Sql,
    "q28_token_count" -> q28Sql,
    "q29_fingerprint" -> q29Sql,
    "q30_multimodal" -> q30Sql,
    "q40_lsh_neardup" -> q40Sql,
    "q41_winnowing" -> q41Sql,
    "q42_jaccard_df_pruned" -> q42Sql,
    "q43_ann_ivf_indexed" -> q25Sql,
    "q44_simhash_neardup" -> q44Sql,
    "q49_dedup_clusters" -> q49Sql,
    "q50_ann_batch" -> q50Sql,
    "q53_split_assign" -> q53Sql,
    "q54_frame_sample" -> q54Sql,
    "q56_minhash_verified" -> q56Sql,
    "q58_simhash64" -> q58Sql,
    "q59_simhash64_neardup" -> q59Sql,
    "q60_ann_ivf_batch" -> q60Sql,
    "q61_dedup_pipeline" -> q61Sql,
    "q62_quality_filter" -> q62Sql,
    "q63_vocabulary" -> q63Sql,
    "q64_tfidf" -> q64Sql,
    "q65_cross_corpus" -> q65Sql,
    "q66_dedup_ingest" -> q66Sql,
    "q67_stratified_sample" -> q67Sql,
    "q68_pack_sequences" -> q68Sql,
    "q69_quantized_ann" -> q69Sql,
    "q70_tokenize_ids" -> q70Sql,
    "q71_contamination" -> q71Sql,
    "q72_corpus_build" -> q72Sql,
    "q73_span_dedup" -> q73Sql,
    "q74_repetition" -> q74Sql,
    "q75_pii_redact" -> q75Sql,
    "q76_bloom_admission" -> q76Sql,
    "q77_mixture_sample" -> q77Sql,
    "q78_pq_ann" -> q78Sql,
    "q80_ivfpq_ann" -> q80Sql,
    "q81_semantic_dedup" -> q81Sql,
    "q82_unigram_logprob" -> q82Sql,
    "q83_packed_windows" -> q83Sql,
    "q86_clean_corpus" -> q86Sql,
    "q87_contamination_spans" -> q87Sql,
    "q89_audio_stats" -> q89Sql,
    "q90_domain_cap" -> q90Sql,
    "q91_normalized_dedup" -> q91Sql,
    "q92_chunk_docs" -> q92Sql,
    "q93_quality_model" -> q93Sql,
    "q94_corpus_report" -> q94Sql,
    "q95_temperature_mix" -> q95Sql,
    "q96_heavy_hitters" -> q96Sql,
    "q99_decontaminate" -> q99Sql,
    "q100_image_ahash" -> q100Sql,
    "q102_pagerank" -> q102Sql,
    "q103_html_extract" -> q103Sql,
    "q104_bm25" -> q104Sql,
    "q109_kmv_distinct" -> q109Sql,
    "q111_phrase_search" -> q111Sql,
    "q112_url_canon" -> q112Sql,
    "q113_bigram_logprob" -> q113Sql,
    "q114_pmi_pairs" -> q114Sql,
    "q117_entity_resolution" -> q117Sql,
    "q120_hybrid_rrf" -> q120Sql,
    "q122_dim_stats" -> q122Sql,
    "q124_triangles" -> q124Sql,
    "q125_image_neardup" -> q125Sql,
    "q128_trigram_search" -> q128Sql,
    "q129_weighted_sample" -> q129Sql,
    "q130_rendezvous_shard" -> q130Sql,
    "q131_span_mask" -> q131Sql,
    "q132_radius_join" -> q132Sql,
    "q133_prefix_ssjoin" -> q133Sql,
    "q138_embed_covariance" -> q138Sql,
    "q139_hard_negatives" -> q139Sql,
    "q140_label_agg" -> q140Sql,
    "q141_whiten_embeddings" -> q141Sql,
    "q143_canonical_keepers" -> q143Sql)
}
