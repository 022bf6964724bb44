package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.ops.{Analytics, Annotation, Cleaning, Dedup, Evaluation, Graph, Multimodal, Privacy, Sampling, Scale, Similarity, Sketches, TextOps, TimeSeries}

/** Round-9 additions: graph-over-text ranking, hierarchy rollups, the
  * privacy-audit pair's missing member, data-quality screens, an ORC
  * staging round-trip, and vocabulary-free featurization — each with a
  * DuckDB oracle replaying the exact arithmetic.
  */
object ExtraQueries {
  type Q = (SparkSession, String) => DataFrame

  // —————————————————————————————— TextRank keywords (q197)
  // (corpus-level keyword ranking: PageRank over the word-adjacency
  //  graph. The oracle rebuilds the graph AND unrolls all 5 damped
  //  iterations — q102's chain applied to a text-derived graph.)
  val q197TextRank: Q = (s, dir) =>
    TextOps.textRank(Tables.documents(s, dir), "text", "doc_id")
  private val q197Sql: String = {
    val iterChain = (0 until 5).map { k =>
      s"""dang$k AS (SELECT coalesce(sum(r), CAST(0 AS DOUBLE)) AS d FROM r$k
                WHERE NOT EXISTS (SELECT 1 FROM deg WHERE deg.src = r$k.node)),
    r${k + 1} AS (
      SELECT n.node,
             CAST(0.15 AS DOUBLE) / nn.n + CAST(0.85 AS DOUBLE) *
               (coalesce(s.contrib, 0) + (SELECT d FROM dang$k) / nn.n) AS r
      FROM ids n CROSS JOIN nn
      LEFT JOIN (
        SELECT e.tgt AS node, sum(r.r / deg.outdeg) AS contrib
        FROM edges e JOIN r$k r ON r.node = e.src
        JOIN deg ON deg.src = e.src
        GROUP BY e.tgt) s ON s.node = n.node)"""
    }.mkString(",\n    ")
    s"""
    WITH d AS (SELECT doc_id, string_split(lower(text), ' ') AS w
               FROM documents),
    t AS (SELECT doc_id, unnest(range(1, len(w) + 1)) AS i, w FROM d),
    tok AS (SELECT doc_id, i, w[i] AS tk FROM t WHERE len(w[i]) > 0),
    adj AS (SELECT doc_id, tk,
              lead(tk) OVER (PARTITION BY doc_id ORDER BY i) AS nxt
            FROM tok),
    und AS (SELECT DISTINCT least(tk, nxt) AS a, greatest(tk, nxt) AS b
            FROM adj WHERE nxt IS NOT NULL AND nxt <> tk),
    words AS (SELECT a AS word FROM und UNION SELECT b FROM und),
    ids AS (SELECT word,
              CAST(('0x' || substr(md5(word), 1, 15)) AS BIGINT) AS node
            FROM words),
    edges AS (
      SELECT CAST(('0x' || substr(md5(a), 1, 15)) AS BIGINT) AS src,
             CAST(('0x' || substr(md5(b), 1, 15)) AS BIGINT) AS tgt FROM und
      UNION ALL
      SELECT CAST(('0x' || substr(md5(b), 1, 15)) AS BIGINT),
             CAST(('0x' || substr(md5(a), 1, 15)) AS BIGINT) FROM und),
    deg AS (SELECT src, count(*) AS outdeg FROM edges GROUP BY 1),
    nn AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM ids),
    r0 AS (SELECT node, 1.0 / nn.n AS r FROM ids CROSS JOIN nn),
    $iterChain
    SELECT w.word, round(r5.r, 9) AS rank
    FROM r5 JOIN ids w ON w.node = r5.node"""
  }

  // —————————————————————————————— subtree rollup (q198)
  // (forest closure by pointer doubling — O(log depth) self-joins —
  //  then per-ancestor aggregation of every descendant's event mass.
  //  The hierarchy is the binary-heap parent u → u div 2 over the ids
  //  PRESENT in events; chains stop at absent intermediates on both
  //  sides, because the closure is of the given edge set.)
  val q198SubtreeRollup: Q = (s, dir) => {
    val ev = Tables.events(s, dir).where(col("user_id").isNotNull)
    val users = ev.select(col("user_id").cast("long").as("id")).distinct()
    val parents = users.where(col("id") > 0)
      .select(col("id").as("child"), expr("id div 2").as("parent"))
    val facts = ev.groupBy(col("user_id").cast("long").as("id"))
      .agg(count(lit(1)).as("n_events"),
        sum(coalesce(round(col("value") * 1000).cast("long"), lit(0L)))
          .as("val_milli"))
    Graph.subtreeRollup(parents, "child", "parent", facts, "id",
      Seq("n_events", "val_milli"))
  }
  private val q198Sql: String = """
    WITH RECURSIVE u AS (SELECT DISTINCT user_id AS id FROM events
                         WHERE user_id IS NOT NULL),
    par AS (SELECT id AS c, id // 2 AS p FROM u WHERE id > 0),
    anc AS (SELECT c AS d, p AS a FROM par
            UNION
            SELECT anc.d, par.p FROM anc JOIN par ON par.c = anc.a),
    allp AS (SELECT d, a FROM anc UNION SELECT id, id FROM u),
    f AS (SELECT user_id AS id, count(*) AS n_events,
            CAST(sum(coalesce(CAST(round(value * 1000) AS BIGINT), 0))
              AS BIGINT) AS val_milli
          FROM events WHERE user_id IS NOT NULL GROUP BY 1)
    SELECT allp.a AS node, count(*) AS n_subtree,
      CAST(sum(f.n_events) AS BIGINT) AS sum_n_events,
      CAST(sum(f.val_milli) AS BIGINT) AS sum_val_milli
    FROM allp JOIN f ON f.id = allp.d GROUP BY 1"""

  // —————————————————————————————— l-diversity audit (q199)
  // (the homogeneity-attack gate over QI classes of the customer table:
  //  market segment × coarse balance bracket, sensitive = nation.)
  val q199LDiversity: Q = (s, dir) =>
    Privacy.lDiversity(
      Tables.customer(s, dir)
        .select(col("c_mktsegment"),
          floor(col("c_acctbal") / 2000).cast("long").as("bal_bracket"),
          col("c_nationkey").cast("long").as("c_nationkey")),
      Seq("c_mktsegment", "bal_bracket"), "c_nationkey", l = 3)
  private val q199Sql: String = """
    WITH vc AS (SELECT c_mktsegment,
            CAST(floor(c_acctbal / 2000) AS BIGINT) AS bal_bracket,
            CAST(c_nationkey AS BIGINT) AS sv, count(*) AS c
          FROM customer GROUP BY 1, 2, 3)
    SELECT c_mktsegment, bal_bracket, CAST(sum(c) AS BIGINT) AS n,
      count(*) AS n_distinct_sensitive,
      CAST((1000000 * max(c)) // sum(c) AS BIGINT) AS max_share_ppm,
      count(*) >= 3 AS l_diverse
    FROM vc GROUP BY 1, 2"""

  // —————————————————————————————— Benford screen (q200)
  // (first-digit profile of lineitem prices in cents; expected shares
  //  are pinned ppm constants summing to exactly 1e6 on both sides.)
  val q200Benford: Q = (s, dir) =>
    Analytics.benfordProfile(Tables.lineitem(s, dir),
      round(col("l_extendedprice") * 100).cast("long"))
  private val q200Sql: String = """
    WITH v AS (SELECT CAST(round(l_extendedprice * 100) AS BIGINT) AS v
               FROM lineitem),
    c AS (SELECT CAST(substr(CAST(v AS VARCHAR), 1, 1) AS BIGINT) AS digit,
            count(*) AS n
          FROM v WHERE v > 0 GROUP BY 1),
    e AS (SELECT CAST(digit AS BIGINT) AS digit,
            CAST(ppm AS BIGINT) AS expected_ppm
          FROM (VALUES (1, 301030), (2, 176091), (3, 124939), (4, 96910),
                       (5, 79181), (6, 66947), (7, 57992), (8, 51153),
                       (9, 45757)) AS t(digit, ppm)),
    tt AS (SELECT CAST(sum(n) AS BIGINT) AS n_total FROM c)
    SELECT e.digit, coalesce(c.n, 0) AS n, tt.n_total,
      (1000000 * coalesce(c.n, 0)) // tt.n_total AS obs_ppm,
      e.expected_ppm,
      (1000000 * coalesce(c.n, 0)) // tt.n_total - e.expected_ppm AS dev_ppm
    FROM e LEFT JOIN c USING (digit) CROSS JOIN tt"""

  // —————————————————————————————— ORC staging round-trip (q201)
  // (a second columnar format in the source/sink inventory: documents
  //  staged once per corpus as zlib ORC, read back through the ORC
  //  source, aggregated. The oracle computes the same aggregate from
  //  the parquet originals — matching hashes prove the ORC round-trip
  //  byte-lossless for every column the aggregate touches.)
  val q201OrcRoundtrip: Q = (s, dir) => {
    val staged = graft.Staging.once(s"orc|$dir") {
      val p = graft.Staging.scratch("graft-orc").resolve("documents.orc").toString
      Tables.documents(s, dir).write.mode("overwrite")
        .option("compression", "zlib").orc(p)
      p
    }
    s.read.orc(staged)
      .groupBy(col("source"), col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_chars")).as("sum_chars"),
        sum(length(col("text")).cast("long")).as("sum_len"))
  }
  private val q201Sql: String = """
    SELECT source, lang, count(*) AS n_docs,
      CAST(sum(n_chars) AS BIGINT) AS sum_chars,
      CAST(sum(CAST(length(text) AS BIGINT)) AS BIGINT) AS sum_len
    FROM documents GROUP BY 1, 2"""

  // —————————————————————————————— JSON-lines staging round-trip (q217)
  // (the text-format leg of the source inventory, with the malformed-
  //  input policy a real ingest needs: documents staged as JSON-lines
  //  plus a planted file of 3 corrupt lines, read back with an EXPLICIT
  //  schema and PERMISSIVE _corrupt_record capture — no schema
  //  inference pass, the 100 TB contract. Good rows must aggregate
  //  hash-identically to the parquet originals (lossless round-trip);
  //  the corrupt rows must land in exactly one quarantine row of 3 with
  //  every data column null. The oracle computes the good-row aggregate
  //  from parquet and pins the quarantine row as the contract.)
  val q217JsonRoundtrip: Q = (s, dir) => {
    import org.apache.spark.sql.types._
    val staged = graft.Staging.once(s"jsonl|$dir") {
      val p = graft.Staging.scratch("graft-jsonl").resolve("documents.jsonl").toString
      Tables.documents(s, dir).write.mode("overwrite").json(p)
      java.nio.file.Files.write(
        java.nio.file.Paths.get(p, "part-99999-planted-corrupt.json"),
        ("{\"doc_id\": 1, \"text\": unquoted}\n" +
          "not json at all\n" +
          "{\"doc_id\": \n").getBytes("UTF-8"))
      p
    }
    val schema = StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType),
      StructField("lang", StringType), StructField("source", StringType),
      StructField("n_chars", LongType),
      StructField("_corrupt_record", StringType)))
    s.read.schema(schema)
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", "_corrupt_record")
      .json(staged)
      .groupBy(
        when(col("_corrupt_record").isNotNull, lit("_corrupt"))
          .otherwise(col("source")).as("source"),
        when(col("_corrupt_record").isNotNull, lit(null).cast("string"))
          .otherwise(col("lang")).as("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_chars")).as("sum_chars"),
        sum(length(col("text")).cast("long")).as("sum_len"))
  }
  private val q217Sql: String = """
    SELECT source, lang, count(*) AS n_docs,
      CAST(sum(n_chars) AS BIGINT) AS sum_chars,
      CAST(sum(CAST(length(text) AS BIGINT)) AS BIGINT) AS sum_len
    FROM documents GROUP BY 1, 2
    UNION ALL
    SELECT '_corrupt', NULL, 3, NULL, NULL"""

  // —————————————————————————————— Avro staging round-trip (q219)
  // (the row-format leg of the source inventory, through the hand-built
  //  graftavro DataSource V2 — no spark-avro module exists on this
  //  classpath, so the source itself is the operator: executor-side
  //  DataFileWriter containers out, schema-from-container inference and
  //  per-file pruned record decode back. Hash-matching the parquet
  //  aggregate proves the container round-trip lossless for every
  //  column touched.)
  val q219AvroRoundtrip: Q = (s, dir) => {
    val staged = graft.Staging.once(s"avro|$dir") {
      val p = graft.Staging.scratch("graft-avro").resolve("documents.avro").toString
      graft.sources.AvroStage.write(
        Tables.documents(s, dir).repartition(4), p, "document")
      p
    }
    s.read.format("graftavro").load(staged)
      .groupBy(col("source"), col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_chars")).as("sum_chars"),
        sum(length(col("text")).cast("long")).as("sum_len"))
  }
  private val q219Sql: String = """
    SELECT source, lang, count(*) AS n_docs,
      CAST(sum(n_chars) AS BIGINT) AS sum_chars,
      CAST(sum(CAST(length(text) AS BIGINT)) AS BIGINT) AS sum_len
    FROM documents GROUP BY 1, 2"""

  // —————————————————————————————— grouped Spearman correlation (q221)
  // (per-event-type monotonic drift screen: rank correlation between
  //  event time and value cents, exact doubled average ranks on ties,
  //  decimal(38) group sums — DuckDB's HUGEINT sums are exact too, so
  //  both engines divide identical integers under one sqrt.)
  val q221Spearman: Q = (s, dir) => {
    val ev = Tables.events(s, dir)
      .select(col("event_type"),
        unix_millis(col("ts").cast("timestamp")).as("x_ms"),
        round(col("value") * 100).cast("long").as("y_cent"))
    Analytics.spearmanCorr(ev, "event_type", "x_ms", "y_cent")
  }
  private val q221Sql: String = """
    WITH b AS (SELECT event_type AS g, epoch_ms(ts) AS x,
            CAST(round(value * 100) AS BIGINT) AS y
          FROM events
          WHERE event_type IS NOT NULL AND ts IS NOT NULL
            AND value IS NOT NULL),
    cx AS (SELECT g, x AS v, count(*) AS c FROM b GROUP BY 1, 2),
    rx AS (SELECT g, v,
            2 * sum(c) OVER (PARTITION BY g ORDER BY v
              ROWS UNBOUNDED PRECEDING) - c + 1 AS r2
          FROM cx),
    cy AS (SELECT g, y AS v, count(*) AS c FROM b GROUP BY 1, 2),
    ry AS (SELECT g, v,
            2 * sum(c) OVER (PARTITION BY g ORDER BY v
              ROWS UNBOUNDED PRECEDING) - c + 1 AS r2
          FROM cy),
    j AS (SELECT b.g, rx.r2 AS rx, ry.r2 AS ry
          FROM b JOIN rx ON rx.g = b.g AND rx.v = b.x
                JOIN ry ON ry.g = b.g AND ry.v = b.y),
    s AS (SELECT g, count(*) AS n, sum(rx) AS sx, sum(ry) AS sy,
            sum(rx * ry) AS sxy, sum(rx * rx) AS sxx, sum(ry * ry) AS syy
          FROM j GROUP BY 1)
    SELECT g AS event_type, n,
      CASE WHEN (n * sxx - sx * sx) = 0 OR (n * syy - sy * sy) = 0 THEN NULL
           ELSE round(CAST(n * sxy - sx * sy AS DOUBLE)
             / sqrt(CAST(n * sxx - sx * sx AS DOUBLE)
                  * CAST(n * syy - sy * sy AS DOUBLE)), 6) END AS rho
    FROM s"""

  // ————————————————— KMV membership intersection (q223)
  // (q119's inclusion–exclusion sibling replaced by the theta-sketch
  //  MEMBERSHIP estimator over the click vs view audiences:
  //  est_inter = ρ·est_union from union-sketch members present in both
  //  sketches — direct overlap counting, robust where subtracting
  //  three large estimates is not. Exact counts ride beside every
  //  estimate; the small-set branch is exact by construction. Spark
  //  widens the (k−1)·2⁶⁰ product to decimal(38,0), DuckDB to HUGEINT
  //  — identical integers out of the integral division.)
  val q223KmvSetOps: Q = (s, dir) => {
    val ev = Tables.events(s, dir)
    Sketches.kmvMembershipIntersect(
      ev.where(col("event_type") === "click").select(col("user_id")),
      ev.where(col("event_type") === "view").select(col("user_id")),
      "user_id", k = 64)
  }
  private val q223Sql: String = {
    val two60 = "1152921504606846976"
    def side(t: String, n: String) = s"""
    h$n AS (SELECT DISTINCT CAST(('0x' || substr(md5('kmv|'
              || CAST(user_id AS VARCHAR)), 1, 15)) AS BIGINT) AS h
            FROM events WHERE event_type = '$t' AND user_id IS NOT NULL),
    s$n AS (SELECT h FROM h$n ORDER BY h LIMIT 64),
    e$n AS (SELECT CASE WHEN count(*) < 64 THEN count(*)
              ELSE CAST((CAST(63 AS HUGEINT) * $two60) // max(h) AS BIGINT)
              END AS est_$n FROM s$n)"""
    s"""
    WITH ${side("click", "a")}, ${side("view", "b")},
    su AS (SELECT h FROM (SELECT h FROM sa UNION SELECT h FROM sb)
           ORDER BY h LIMIT 64),
    eu AS (SELECT CASE WHEN count(*) < 64 THEN count(*)
             ELSE CAST((CAST(63 AS HUGEINT) * $two60) // max(h) AS BIGINT)
             END AS est_union, count(*) AS nu FROM su),
    mt AS (SELECT count(*) AS n_match FROM su
           WHERE h IN (SELECT h FROM sa) AND h IN (SELECT h FROM sb)),
    ei AS (SELECT CAST((CAST(mt.n_match AS HUGEINT) * eu.est_union) // eu.nu
             AS BIGINT) AS est_inter
           FROM mt CROSS JOIN eu),
    xa AS (SELECT DISTINCT user_id FROM events
           WHERE event_type = 'click' AND user_id IS NOT NULL),
    xb AS (SELECT DISTINCT user_id FROM events
           WHERE event_type = 'view' AND user_id IS NOT NULL)
    SELECT ea.est_a, eb.est_b, eu.est_union, ei.est_inter,
      (SELECT count(*) FROM xa) AS exact_a,
      (SELECT count(*) FROM xb) AS exact_b,
      (SELECT count(*) FROM (SELECT user_id FROM xa
          UNION SELECT user_id FROM xb)) AS exact_union,
      (SELECT count(*) FROM xa WHERE user_id IN (SELECT user_id FROM xb))
        AS exact_inter
    FROM ea CROSS JOIN eb CROSS JOIN eu CROSS JOIN ei"""
  }

  // —————————————————————————————— snapshot profile drift (q224)
  // (the pre-publish regression gate between two snapshots: q169's
  //  per-column profile on each side, joined, null-rate and
  //  distinct-ratio shifts in exact floored ppm, length envelope
  //  deltas, a threshold verdict. Old = first half of documents by id,
  //  new = second half — enough real distribution shift to exercise
  //  both verdict branches.)
  val q224ProfileDrift: Q = (s, dir) => {
    val docs = Tables.documents(s, dir)
    val mid = docs.count() / 2
    Analytics.profileDrift(
      docs.where(col("doc_id") < mid), docs.where(col("doc_id") >= mid),
      Seq("doc_id", "text", "lang", "source", "n_chars"),
      thresholdPpm = 50000)
  }
  private val q224Sql: String = {
    def prof(tag: String, pred: String) =
      Seq("doc_id", "text", "lang", "source", "n_chars").map(c => s"""
      SELECT '$c' AS col_name, count(*) AS n_rows_$tag,
        (1000000 * CAST(sum(CASE WHEN $c IS NULL THEN 1 ELSE 0 END)
           AS BIGINT)) // count(*) AS null_ppm_$tag,
        (1000000 * count(DISTINCT $c)) // count(*) AS distinct_ppm_$tag,
        CAST(min(length(CAST($c AS VARCHAR))) AS BIGINT) AS min_len_$tag,
        CAST(max(length(CAST($c AS VARCHAR))) AS BIGINT) AS max_len_$tag
      FROM documents WHERE $pred""").mkString(" UNION ALL ")
    s"""
    WITH mid AS (SELECT count(*) // 2 AS m FROM documents),
    po AS (${prof("old", "doc_id < (SELECT m FROM mid)")}),
    pn AS (${prof("new", "doc_id >= (SELECT m FROM mid)")})
    SELECT po.*, pn.n_rows_new, pn.null_ppm_new, pn.distinct_ppm_new,
      pn.min_len_new, pn.max_len_new,
      pn.null_ppm_new - po.null_ppm_old AS null_dppm,
      pn.distinct_ppm_new - po.distinct_ppm_old AS distinct_dppm,
      pn.min_len_new - po.min_len_old AS min_len_delta,
      pn.max_len_new - po.max_len_old AS max_len_delta,
      abs(pn.null_ppm_new - po.null_ppm_old) > 50000
        OR abs(pn.distinct_ppm_new - po.distinct_ppm_old) > 50000
        AS drifted
    FROM po JOIN pn USING (col_name)"""
  }

  // —————————————————————————————— incremental aggregate view (q225)
  // (q194's aggregate sibling: per-customer (count, sum, min, max) of
  //  order cents maintained by folding 4 arrival batches — each batch
  //  aggregated ALONE, merged by the combine algebra. The oracle is
  //  the LAW: the folded view must hash-equal the one-shot aggregate
  //  over the union.)
  val q225IncrementalAgg: Q = (s, dir) => {
    val o = Tables.orders(s, dir).select(col("o_custkey"),
      round(col("o_totalprice") * 100).cast("long").as("cents"),
      col("o_orderkey"))
    val batches = (0 to 3).map(i =>
      o.where(pmod(col("o_orderkey"), lit(4)) === i).drop("o_orderkey"))
    graft.ops.Relational.incrementalAggFold(batches, "o_custkey", "cents")
  }
  private val q225Sql: String = """
    SELECT o_custkey, count(o_totalprice) AS n,
      CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS s,
      CAST(min(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS mn,
      CAST(max(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS mx
    FROM orders WHERE o_custkey IS NOT NULL GROUP BY 1"""

  // —————————————————————————————— lateness / out-of-order profile (q227)
  // (the watermark-tuning diagnostic: per-user events replayed in
  //  event_id arrival order, lateness = running-max event time minus
  //  event time, histogrammed into power-of-4 ms buckets via pure bit
  //  shifts — no libm log in the bucket id.)
  val q227LatenessProfile: Q = (s, dir) =>
    TimeSeries.latenessProfile(Tables.events(s, dir), "user_id", "ts",
      "event_id")
  private val q227Sql: String = """
    WITH e AS (SELECT user_id, event_id, epoch_ms(ts) AS ts_ms
          FROM events
          WHERE user_id IS NOT NULL AND ts IS NOT NULL
            AND event_id IS NOT NULL),
    l AS (SELECT user_id,
            max(ts_ms) OVER (PARTITION BY user_id ORDER BY event_id
              ROWS UNBOUNDED PRECEDING) - ts_ms AS late_ms
          FROM e),
    b AS (SELECT user_id, late_ms,
            CASE WHEN late_ms = 0 THEN 0
                 ELSE (CAST(1 AS BIGINT)
                   << CAST(2 * ((length(bin(late_ms)) - 1) // 2) AS INT))
            END AS bucket
          FROM l)
    SELECT user_id, bucket, count(*) AS n,
      CAST(max(late_ms) AS BIGINT) AS max_late_ms
    FROM b GROUP BY 1, 2"""

  // —————————————————————————————— chunk→doc mean-pool embeddings (q228)
  // (the RAG doc-level aggregation: every 10 consecutive vec_ids pool
  //  to one parent vector — micro-unit rounding once per element, then
  //  pure integer sum + floor division, no float accumulation order.
  //  Exploded (group, dim, micro) rows, the oracle-safest shape.)
  val q228MeanPool: Q = (s, dir) =>
    Similarity.meanPoolEmbeddings(Tables.embeddings(s, dir),
      "vec_id", "embedding", expr("vec_id div 10"))
  private val q228Sql: String = """
    WITH x AS (SELECT vec_id // 10 AS group_id, i - 1 AS dim,
            CAST(round(CAST(e[i] AS DOUBLE) * 1000000) AS BIGINT) AS xm
          FROM (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e
                FROM embeddings),
            unnest(range(1, len(e) + 1)) u(i))
    SELECT group_id, CAST(dim AS BIGINT) AS dim,
      CAST(sum(xm) // count(*) AS BIGINT) AS micro,
      count(*) AS n_chunks
    FROM x GROUP BY 1, 2"""

  // —————————————————————————————— IVF search after delete (q230)
  // (the index lifecycle's last verb: build → delete vec_id % 7 = 0
  //  (sidecar tombstones, partition-pruned rewrites, emptied dirs
  //  dropped) → probe. The oracle replays the IVF assignment, probe,
  //  and ranking over the SURVIVING corpus only — one resurrected or
  //  half-deleted id flips the hash.)
  val q230IvfDelete: Q = (s, dir) => {
    val emb = Tables.embeddings(s, dir)
    val centroids = emb.filter(col("vec_id") < 16)
      .select(col("vec_id").as("cid"),
        Similarity.asDouble(col("embedding")).as("cvec"))
    val queries = emb.filter(col("vec_id") < 5)
      .select(col("vec_id").as("q_id"),
        Similarity.asDouble(col("embedding")).as("qvec"))
    val path = graft.Staging.pathFor("graft-ivf-del", dir)
    graft.Staging.once(path) {
      Similarity.buildIvfIndex(emb.filter(col("vec_id") >= 16), centroids, path)
      Similarity.deleteFromIvfIndex(s,
        emb.filter(col("vec_id") >= 16 && pmod(col("vec_id"), lit(7)) === 0)
          .select(col("vec_id")), path)
    }
    Similarity.ivfTopKIndexedBatch(path, centroids, queries, k = 5, nProbe = 2)
  }
  private val q230Sql: String = """
    WITH c AS (SELECT vec_id AS cid, CAST(embedding AS DOUBLE[]) AS cv
               FROM embeddings WHERE vec_id < 16),
    v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e
          FROM embeddings WHERE vec_id >= 16 AND vec_id % 7 <> 0),
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
    ascored AS (SELECT p.q_id, a.vec_id,
        round(list_dot_product(a.e, q.qe)
          / (sqrt(list_dot_product(a.e, a.e))
             * sqrt(list_dot_product(q.qe, q.qe))), 4) AS cos_sim
      FROM a1 a JOIN probes p ON a.cid = p.cid JOIN q ON q.q_id = p.q_id)
    SELECT q_id, vec_id, cos_sim, CAST(rk AS BIGINT) AS rk
    FROM (SELECT *, row_number() OVER
        (PARTITION BY q_id ORDER BY cos_sim DESC, vec_id) AS rk
      FROM ascored) WHERE rk <= 5"""

  // —————————————————————————————— PSI distribution drift (q231)
  // (population stability index of n_chars between the first and second
  //  doc_id halves — reference-side equi-depth deciles (floored exact
  //  cent percentiles), add-one smoothing, the single float boundary
  //  per bin pinned to integer micro-PSI before the total sums. Same
  //  split as q224, which profiles columns; this weighs the shape.)
  val q231PsiDrift: Q = (s, dir) => {
    val docs = Tables.documents(s, dir)
    val mid = docs.count() / 2
    Analytics.psiDrift(
      docs.where(col("doc_id") < mid), docs.where(col("doc_id") >= mid),
      "n_chars", nBins = 10)
  }
  private val q231Sql: String = {
    val assign = (1 to 9).map(i =>
      s"CASE WHEN cv >= b$i THEN 1 ELSE 0 END").mkString(" + ")
    val edges = (1 to 9).map(i =>
      s"CAST(floor(quantile_cont(cv, 0.${i})) AS BIGINT) AS b$i").mkString(",\n        ")
    s"""
    WITH mid AS (SELECT count(*) // 2 AS m FROM documents),
    c AS (SELECT CAST(round(n_chars * 100) AS BIGINT) AS cv,
            CASE WHEN doc_id < (SELECT m FROM mid) THEN 1 ELSE 0 END AS is_old
          FROM documents WHERE n_chars IS NOT NULL),
    b AS (SELECT $edges
          FROM c WHERE is_old = 1),
    a AS (SELECT cv, is_old, CAST($assign AS BIGINT) AS bin FROM c, b),
    g AS (SELECT bin, CAST(sum(is_old) AS BIGINT) AS n_old,
            CAST(sum(1 - is_old) AS BIGINT) AS n_new FROM a GROUP BY 1),
    t AS (SELECT bin, n_old, n_new,
            CAST(sum(n_old) OVER () AS BIGINT) AS t_old,
            CAST(sum(n_new) OVER () AS BIGINT) AS t_new FROM g),
    e AS (SELECT bin, n_old, n_new, CAST(round(
            (CAST(n_new + 1 AS DOUBLE) / CAST(t_new + 10 AS DOUBLE)
             - CAST(n_old + 1 AS DOUBLE) / CAST(t_old + 10 AS DOUBLE))
            * ln((CAST(n_new + 1 AS DOUBLE) / CAST(t_new + 10 AS DOUBLE))
                 / (CAST(n_old + 1 AS DOUBLE) / CAST(t_old + 10 AS DOUBLE)))
            * 1000000) AS BIGINT) AS psi_term_e6 FROM t)
    SELECT bin, n_old, n_new, psi_term_e6,
      CAST(sum(psi_term_e6) OVER () AS BIGINT) AS psi_e6 FROM e"""
  }

  // —————————————————————————————— conformal intervals (q232)
  // (Mondrian split-conformal over events.value by event_type:
  //  train/cal/test = md5 buckets <60 / 60-79 / ≥80 of event_id, 90%
  //  intervals. The oracle replays the floor-division mean, the
  //  integer-ceiling k, the distinct-residual cumulative order
  //  statistic, and the ppm coverage — exact BIGINTs end to end.)
  val q232Conformal: Q = (s, dir) => {
    val ev = Tables.events(s, dir)
    val bk = graft.ops.Sampling.hashBucket(col("event_id"))
    graft.ops.Evaluation.conformalIntervals(
      ev.where(bk < 60), ev.where(bk >= 60 && bk < 80), ev.where(bk >= 80),
      "event_type", "value", alphaPct = 10)
  }
  private val q232Sql: String = """
    WITH e AS (SELECT event_type AS g,
            CAST(round(value * 100) AS BIGINT) AS cv,
            CAST(('0x' || substr(md5(CAST(event_id AS VARCHAR)), 1, 4))
              AS BIGINT) % 100 AS bk
          FROM events WHERE event_type IS NOT NULL AND value IS NOT NULL),
    p AS (SELECT g, CAST(count(*) AS BIGINT) AS n_train,
            CAST(sum(cv) AS BIGINT) // CAST(count(*) AS BIGINT) AS pred_cent
          FROM e WHERE bk < 60 GROUP BY 1),
    r AS (SELECT e.g, abs(cv - pred_cent) AS r FROM e JOIN p ON e.g = p.g
          WHERE bk >= 60 AND bk < 80),
    s AS (SELECT g, CAST(count(*) AS BIGINT) AS n_cal,
            CAST(((count(*) + 1) * 90 + 99) // 100 AS BIGINT) AS k
          FROM r GROUP BY 1),
    bv AS (SELECT g, r, CAST(count(*) AS BIGINT) AS n FROM r GROUP BY 1, 2),
    c AS (SELECT g, r,
            CAST(sum(n) OVER (PARTITION BY g ORDER BY r) AS BIGINT) AS c
          FROM bv),
    q AS (SELECT c.g, min(r) AS qhat_cent FROM c JOIN s ON c.g = s.g
          WHERE c.c >= s.k GROUP BY 1),
    t AS (SELECT e.g, cv, n_train, n_cal, pred_cent, qhat_cent
          FROM e JOIN p ON e.g = p.g JOIN s ON e.g = s.g
          LEFT JOIN q ON e.g = q.g
          WHERE bk >= 80)
    SELECT g AS event_type, n_train, n_cal,
      CAST(count(*) AS BIGINT) AS n_test, pred_cent, qhat_cent,
      CASE WHEN qhat_cent IS NOT NULL THEN
        (1000000 * CAST(sum(CASE WHEN cv BETWEEN pred_cent - qhat_cent
            AND pred_cent + qhat_cent THEN 1 ELSE 0 END) AS BIGINT))
          // count(*)
      END AS coverage_ppm
    FROM t GROUP BY 1, 2, 3, 5, 6"""

  // —————————————————————————————— diversified top-k (q233)
  // (bucket-capped retrieval: top-5 by exact cosine with at most 2
  //  hits per centroid region — a near-dup-heavy neighborhood can't
  //  monopolize the result list. Oracle replays assignment, the
  //  per-(query, region) cap window, and the global rank.)
  val q233DiversifiedTopK: Q = (s, dir) => {
    val emb = Tables.embeddings(s, dir)
    val centroids = emb.filter(col("vec_id") < 16)
      .select(col("vec_id").as("cid"),
        Similarity.asDouble(col("embedding")).as("cvec"))
    val queries = emb.filter(col("vec_id") < 5)
      .select(col("vec_id").as("q_id"),
        Similarity.asDouble(col("embedding")).as("qvec"))
    Similarity.diversifiedTopKBatch(emb.filter(col("vec_id") >= 16),
      centroids, queries, k = 5, perCluster = 2)
  }
  private val q233Sql: String = """
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
    sc AS (SELECT q.q_id, a.vec_id, a.cid,
        round(list_dot_product(a.e, q.qe)
          / (sqrt(list_dot_product(a.e, a.e))
             * sqrt(list_dot_product(q.qe, q.qe))), 4) AS cos_sim
      FROM a1 a, q),
    cc AS (SELECT *, row_number() OVER
        (PARTITION BY q_id, cid ORDER BY cos_sim DESC, vec_id) AS rn_c
      FROM sc),
    g AS (SELECT q_id, vec_id, cid, cos_sim, row_number() OVER
        (PARTITION BY q_id ORDER BY cos_sim DESC, vec_id) AS rk
      FROM cc WHERE rn_c <= 2)
    SELECT q_id, vec_id, cid AS centroid_id, cos_sim,
      CAST(rk AS BIGINT) AS rk
    FROM g WHERE rk <= 5"""

  // —————————————————————————————— seasonal decomposition (q234)
  // (STL-lite additive trend/seasonal/residual of the hourly
  //  event_type value series, period 24 h, in exact Q = 48·cent units
  //  — the half-weight centered MA is two plain window sums, the
  //  seasonal mean a truncating integer division. Null trend at
  //  series edges, never a partial-window fake.)
  val q234SeasonalDecompose: Q = (s, dir) =>
    TimeSeries.seasonalDecompose(Tables.events(s, dir),
      "event_type", "ts", "value", period = 24)
  private val q234Sql: String = """
    WITH h AS (SELECT event_type AS k, epoch_ms(ts) // 3600000 AS hr,
            CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS v
          FROM events WHERE event_type IS NOT NULL AND ts IS NOT NULL
            AND value IS NOT NULL GROUP BY 1, 2),
    w AS (SELECT k, hr, v,
            CAST(sum(v) OVER (PARTITION BY k ORDER BY hr
              ROWS BETWEEN 12 PRECEDING AND 11 FOLLOWING) AS BIGINT) AS s1,
            CAST(count(*) OVER (PARTITION BY k ORDER BY hr
              ROWS BETWEEN 12 PRECEDING AND 11 FOLLOWING) AS BIGINT) AS n1,
            CAST(sum(v) OVER (PARTITION BY k ORDER BY hr
              ROWS BETWEEN 11 PRECEDING AND 12 FOLLOWING) AS BIGINT) AS s2,
            CAST(count(*) OVER (PARTITION BY k ORDER BY hr
              ROWS BETWEEN 11 PRECEDING AND 12 FOLLOWING) AS BIGINT) AS n2
          FROM h),
    t AS (SELECT k, hr, v,
            CASE WHEN n1 = 24 AND n2 = 24 THEN s1 + s2 END AS trend_q,
            CASE WHEN n1 = 24 AND n2 = 24 THEN 48 * v - s1 - s2
              END AS detr_q,
            hr % 24 AS ph
          FROM w),
    s AS (SELECT k, hr, v, trend_q, detr_q,
            CAST(sum(detr_q) OVER (PARTITION BY k, ph) AS BIGINT) AS sd,
            CAST(count(detr_q) OVER (PARTITION BY k, ph) AS BIGINT) AS nd
          FROM t)
    SELECT k AS event_type, hr, v AS v_cent, trend_q,
      CASE WHEN nd > 0 THEN sd // nd END AS seasonal_q,
      CASE WHEN detr_q IS NOT NULL AND nd > 0 THEN detr_q - sd // nd
        END AS resid_q
    FROM s"""

  // —————————————————————————————— functional-dependency audit (q235)
  // (schema-quality gate over documents: doc_id → lang must hold
  //  (doc_id is the key), source → lang and lang → source must not —
  //  exact group counts, floored-ppm violation shares.)
  val q235FdAudit: Q = (s, dir) =>
    Analytics.fdAudit(Tables.documents(s, dir), Seq(
      (Seq("doc_id"), "lang"), (Seq("source"), "lang"),
      (Seq("lang"), "source")))
  private val q235Sql: String = {
    def block(lhs: String, rhs: String) = s"""
      SELECT '$lhs->$rhs' AS fd, CAST(count(*) AS BIGINT) AS n_groups,
        CAST(sum(CASE WHEN c > 1 THEN 1 ELSE 0 END) AS BIGINT)
          AS n_violating,
        (1000000 * CAST(sum(CASE WHEN c > 1 THEN 1 ELSE 0 END) AS BIGINT))
          // count(*) AS viol_ppm,
        CAST(max(c) AS BIGINT) AS max_rhs_card,
        CAST(sum(CASE WHEN c > 1 THEN 1 ELSE 0 END) AS BIGINT) = 0 AS holds
      FROM (SELECT l, count(*) AS c FROM
        (SELECT DISTINCT $lhs AS l, $rhs AS r FROM documents
         WHERE $rhs IS NOT NULL) GROUP BY 1)"""
    Seq(block("doc_id", "lang"), block("source", "lang"),
      block("lang", "source")).mkString(" UNION ALL ")
  }

  // —————————————————————————————— Pareto frontier (q237)
  // (per event_type, the recency × value skyline: rows no other event
  //  of the type beats on BOTH epoch-ms and cent axes. Never a
  //  dominance self-join — one (group, x) max, one cumulative max on
  //  the distinct-x frame, one semi join back.)
  val q237ParetoFrontier: Q = (s, dir) => {
    val e = Tables.events(s, dir)
      .where(col("event_type").isNotNull && col("ts").isNotNull &&
        col("value").isNotNull)
      .select(col("event_type"), col("event_id"),
        unix_millis(col("ts").cast("timestamp")).as("ts_ms"),
        round(col("value") * 100).cast("long").as("v_cent"))
    graft.ops.Relational.paretoFrontier(e, "event_type", "ts_ms", "v_cent")
  }
  private val q237Sql: String = """
    WITH e AS (SELECT event_type AS g, event_id, epoch_ms(ts) AS x,
            CAST(round(value * 100) AS BIGINT) AS y
          FROM events WHERE event_type IS NOT NULL AND ts IS NOT NULL
            AND value IS NOT NULL),
    px AS (SELECT g, x, max(y) AS ymax FROM e GROUP BY 1, 2),
    ed AS (SELECT g, x, ymax,
            max(ymax) OVER (PARTITION BY g ORDER BY x DESC
              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pref
          FROM px),
    f AS (SELECT g, x, ymax FROM ed WHERE pref IS NULL OR pref < ymax)
    SELECT e.g AS event_type, e.event_id, e.x AS ts_ms, e.y AS v_cent
    FROM e JOIN f ON e.g = f.g AND e.x = f.x AND e.y = f.ymax"""

  // —————————————————————————————— feature hashing (q202)
  // (vocabulary-free signed bag-of-words projection; sparse output.)
  val q202FeatureHash: Q = (s, dir) =>
    TextOps.featureHash(Tables.documents(s, dir), "text", "doc_id", dims = 64)
  private val q202Sql: String = """
    WITH d AS (SELECT doc_id, unnest(string_split(lower(text), ' ')) AS w
               FROM documents),
    t AS (SELECT doc_id, w FROM d WHERE len(w) > 0),
    m AS (SELECT doc_id,
            CAST(('0x' || substr(md5('b|' || w), 1, 15)) AS BIGINT) % 64
              AS bucket,
            CASE WHEN substr(md5('s|' || w), 1, 1)
                   IN ('0','1','2','3','4','5','6','7')
                 THEN 1 ELSE -1 END AS sgn
          FROM t)
    SELECT doc_id, bucket, CAST(sum(sgn) AS BIGINT) AS weight
    FROM m GROUP BY 1, 2 HAVING sum(sgn) <> 0"""

  // —————————————————————————————— label propagation (q203)
  // (semi-supervised pseudo-labeling: every fifth embedding keeps its
  //  human label, the rest take the frozen-majority spread over the
  //  cosine ε-graph for 3 synchronized rounds. The oracle rebuilds the
  //  exact pair graph — q23's dot-product CTE — and unrolls each round's
  //  majority vote with the same (count desc, label asc) tiebreak.)
  val q203LabelPropagation: Q = (s, dir) => {
    val emb = Tables.embeddings(s, dir).filter(col("vec_id") < 500)
    val pairs = Similarity.nearDupPairs(emb, threshold = 0.3)
    val edges = pairs.select(col("a").as("src"), col("b").as("tgt"))
      .unionByName(pairs.select(col("b").as("src"), col("a").as("tgt")))
    val seeds = emb.where(col("vec_id") % 5 === 0)
      .select(col("vec_id"), col("label"))
    Graph.labelPropagation(emb.select(col("vec_id")), "vec_id",
      seeds, "vec_id", "label", edges, iters = 3)
  }
  private val q203Sql: String = {
    val rounds = (0 until 3).map { k =>
      s"""v$k AS (SELECT e.tgt AS id, l.label AS nl, count(*) AS c
             FROM edges e JOIN l$k l ON l.id = e.src
             WHERE l.label IS NOT NULL GROUP BY 1, 2),
    m$k AS (SELECT id, nl FROM (
              SELECT id, nl, row_number() OVER (PARTITION BY id
                ORDER BY c DESC, nl ASC) AS rk FROM v$k)
            WHERE rk = 1),
    l${k + 1} AS (SELECT l.id, coalesce(l.label, m.nl) AS label
             FROM l$k l LEFT JOIN m$k m ON m.id = l.id)"""
    }.mkString(",\n    ")
    s"""
    WITH v AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS e
               FROM embeddings WHERE vec_id < 500),
    p AS (SELECT a, b FROM (
        SELECT x.vec_id AS a, y.vec_id AS b,
          list_dot_product(x.e, y.e)
            / (sqrt(list_dot_product(x.e, x.e))
               * sqrt(list_dot_product(y.e, y.e))) AS cos_raw
        FROM v x JOIN v y ON x.vec_id < y.vec_id)
      WHERE cos_raw >= 0.3),
    edges AS (SELECT a AS src, b AS tgt FROM p
              UNION ALL SELECT b, a FROM p),
    l0 AS (SELECT vec_id AS id,
             CASE WHEN vec_id % 5 = 0 THEN CAST(label AS BIGINT) END AS label
           FROM v),
    $rounds
    SELECT id AS vec_id, label FROM l3"""
  }

  // —————————————————————————————— effective-area downsampling (q204)
  // (largest-triangle-one-bucket per user series over events, 8 points
  //  out; exact BIGINT cross products, endpoints anchored.)
  val q204Downsample: Q = (s, dir) => {
    val ev = Tables.events(s, dir)
      // ts guard matches the oracle and the sibling events queries: a
      // null ts would otherwise sort first and be emitted as an anchor
      .where(col("user_id").isNotNull && col("value").isNotNull &&
        col("ts").isNotNull)
      .select(col("user_id"), col("event_id"),
        unix_millis(col("ts").cast("timestamp")).as("ts_ms"),
        round(col("value") * 1000).cast("long").as("v_milli"))
    TimeSeries.effectiveAreaDownsample(ev, "user_id", "ts_ms", "v_milli",
      "event_id", nOut = 8)
  }
  private val q204Sql: String = """
    WITH pts AS (SELECT user_id, event_id, epoch_ms(ts) AS x,
            CAST(round(value * 1000) AS BIGINT) AS y
          FROM events WHERE user_id IS NOT NULL AND value IS NOT NULL
            AND ts IS NOT NULL),
    wn AS (SELECT user_id, x, y,
            row_number() OVER w AS rn,
            count(*) OVER (PARTITION BY user_id) AS n,
            lag(x) OVER w AS xp, lag(y) OVER w AS yp,
            lead(x) OVER w AS xn, lead(y) OVER w AS yn
          FROM pts WINDOW w AS (PARTITION BY user_id ORDER BY x, event_id)),
    ar AS (SELECT user_id, x, y, rn, n,
            abs((x - xp) * (yn - yp) - (xn - xp) * (y - yp)) AS area2,
            CASE WHEN rn = 1 OR rn = n THEN NULL
                 ELSE ((rn - 2) * 8) // greatest(n - 2, 1) END AS bucket
          FROM wn),
    pk AS (SELECT user_id, x, y, rn, n, bucket,
            row_number() OVER (PARTITION BY user_id, bucket
              ORDER BY area2 DESC NULLS LAST, rn ASC) AS pick
          FROM ar)
    SELECT user_id, x AS ts_ms, y AS v_milli
    FROM pk
    WHERE n <= 10 OR rn = 1 OR rn = n OR pick = 1"""

  // —————————————————————————————— CMS join-size estimate (q205)
  // (planner-side sketch use: |events ⋈ customer| estimated from two
  //  count-min sketches' inner product, exact size alongside.)
  val q205CmsJoinSize: Q = (s, dir) =>
    Sketches.cmsJoinSize(Tables.events(s, dir), "user_id",
      Tables.customer(s, dir), "c_custkey", depth = 4, width = 256)
  private val q205Sql: String = """
    WITH sa AS (SELECT r, CAST(('0x' || substr(md5(CAST(r AS VARCHAR) || '|'
              || CAST(user_id AS VARCHAR)), 1, 8)) AS BIGINT) % 256 AS bkt,
            count(*) AS ca
          FROM events CROSS JOIN (SELECT unnest(range(0, 4)) AS r)
          WHERE user_id IS NOT NULL GROUP BY 1, 2),
    sb AS (SELECT r, CAST(('0x' || substr(md5(CAST(r AS VARCHAR) || '|'
              || CAST(c_custkey AS VARCHAR)), 1, 8)) AS BIGINT) % 256 AS bkt,
            count(*) AS cb
          FROM customer CROSS JOIN (SELECT unnest(range(0, 4)) AS r)
          WHERE c_custkey IS NOT NULL GROUP BY 1, 2),
    rows_ AS (SELECT sa.r, CAST(sum(ca * cb) AS BIGINT) AS rowEst
          FROM sa JOIN sb ON sa.r = sb.r AND sa.bkt = sb.bkt GROUP BY 1),
    est AS (SELECT CASE WHEN count(*) < 4 THEN 0
                        ELSE CAST(min(rowEst) AS BIGINT) END AS est_rows
            FROM rows_),
    ta AS (SELECT user_id AS k, count(*) AS na FROM events
           WHERE user_id IS NOT NULL GROUP BY 1),
    tb AS (SELECT c_custkey AS k, count(*) AS nb FROM customer
           WHERE c_custkey IS NOT NULL GROUP BY 1),
    tr AS (SELECT coalesce(CAST(sum(na * nb) AS BIGINT), 0) AS true_rows
           FROM ta JOIN tb ON ta.k = tb.k)
    SELECT est_rows, true_rows FROM est CROSS JOIN tr"""

  // —————————————————————————————— shuffle-skew profile (q206)
  // (hash-partition simulation over the events key everyone groups by:
  //  per-bucket row mass in exact ppm — the straggler bound a salting /
  //  AQE-skew decision reads. event_type has 5 hot values, so the
  //  histogram is the interesting, skewed case.)
  val q206SkewProfile: Q = (s, dir) =>
    Scale.skewProfile(Tables.events(s, dir), col("event_type"), parts = 32)
  private val q206Sql: String = """
    WITH b AS (SELECT CAST(('0x' || substr(md5(event_type), 1, 15))
                 AS BIGINT) % 32 AS bucket
               FROM events),
    c AS (SELECT bucket, count(*) AS n_rows FROM b GROUP BY 1),
    t AS (SELECT CAST(sum(n_rows) AS BIGINT) AS n_total FROM c)
    SELECT bucket, n_rows, (1000000 * n_rows) // n_total AS share_ppm
    FROM c CROSS JOIN t"""

  /** The IVF index over vec_id ≥ 16 that q207 and q265 share. */
  private def ivfRecallIndex(dir: String, corpus: DataFrame,
      centroids: DataFrame): String = {
    val path = graft.Staging.pathFor("graft-ivf-recall", dir)
    graft.Staging.once(path)(Similarity.buildIvfIndex(corpus, centroids, path))
    path
  }

  // —————————————————————————————— ANN recall gate (q207)
  // (recall@5 of the nProbe=2 IVF probe against the exact scan over the
  //  SAME corpus — the index-deployment acceptance number. The oracle
  //  replays both retrievals and the intersection.)
  val q207IvfRecall: Q = (s, dir) => {
    val emb = Tables.embeddings(s, dir)
    val centroids = emb.filter(col("vec_id") < 16)
      .select(col("vec_id").as("cid"),
        Similarity.asDouble(col("embedding")).as("cvec"))
    val queries = emb.filter(col("vec_id") < 5)
      .select(col("vec_id").as("q_id"),
        Similarity.asDouble(col("embedding")).as("qvec"))
    val corpus = emb.filter(col("vec_id") >= 16)
    val path = ivfRecallIndex(dir, corpus, centroids)
    val approx = Similarity
      .ivfTopKIndexedBatch(path, centroids, queries, k = 5, nProbe = 2)
    val exact = Similarity.bruteForceTopKBatch(corpus, queries, k = 5)
    Evaluation.recallAtK(exact, approx, k = 5)
  }
  private val q207Sql: String = """
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
    ascored AS (SELECT p.q_id, a.vec_id,
        round(list_dot_product(a.e, q.qe)
          / (sqrt(list_dot_product(a.e, a.e))
             * sqrt(list_dot_product(q.qe, q.qe))), 4) AS cos_sim
      FROM a1 a JOIN probes p ON a.cid = p.cid JOIN q ON q.q_id = p.q_id),
    at AS (SELECT q_id, vec_id FROM (SELECT *, row_number() OVER
        (PARTITION BY q_id ORDER BY cos_sim DESC, vec_id) AS rk
      FROM ascored) WHERE rk <= 5),
    bscored AS (SELECT q.q_id, v.vec_id,
        round(list_dot_product(v.e, q.qe)
          / (sqrt(list_dot_product(v.e, v.e))
             * sqrt(list_dot_product(q.qe, q.qe))), 4) AS cos_sim
      FROM v, q),
    bt AS (SELECT q_id, vec_id FROM (SELECT *, row_number() OVER
        (PARTITION BY q_id ORDER BY cos_sim DESC, vec_id) AS rk
      FROM bscored) WHERE rk <= 5),
    h AS (SELECT b.q_id, count(*) AS n_hit
          FROM bt b JOIN at a ON a.q_id = b.q_id AND a.vec_id = b.vec_id
          GROUP BY 1)
    SELECT q.q_id, coalesce(h.n_hit, 0) AS n_hit,
      (1000000 * coalesce(h.n_hit, 0)) // 5 AS recall_ppm
    FROM (SELECT DISTINCT q_id FROM bt) q LEFT JOIN h USING (q_id)"""

  // —————————————————————————————— negative sampling (q208)
  // (per-customer hash-blocked top-5 never-ordered parts: candidates
  //  limited to the customer's md5 block (1/32 of the catalog) — a
  //  join, never users × items.)
  val q208NegativeSample: Q = (s, dir) => {
    val inter = Tables.orders(s, dir).join(Tables.lineitem(s, dir),
        col("o_orderkey") === col("l_orderkey"))
      .select(col("o_custkey"), col("l_partkey"))
    // the SCALE KNOB: block count grows with the catalog so each user's
    // candidate slice stays ~64 items — with a FIXED block count the
    // users×(items/blocks) fan-out is quadratic in scale factor
    // (measured: 100× pairs for 10× data before this). The count() is a
    // bounded scalar; the oracle computes the SAME knob from part's
    // count, so Spark and oracle share one block count at every SF.
    val nItems = Tables.part(s, dir).count()
    val blocks = math.max(32L, (nItems + 63) / 64).toInt
    Sampling.negativeSample(inter, "o_custkey", "l_partkey",
      Tables.part(s, dir), "p_partkey", k = 5, blocks = blocks)
  }
  private val q208Sql: String = """
    WITH nb AS (SELECT greatest(32, (count(*) + 63) // 64) AS blocks
          FROM part),
    inter AS (SELECT DISTINCT o_custkey AS u, l_partkey AS item
          FROM orders JOIN lineitem ON l_orderkey = o_orderkey),
    users AS (SELECT DISTINCT u,
            CAST(('0x' || substr(md5(CAST(u AS VARCHAR)), 1, 15))
              AS BIGINT) % (SELECT blocks FROM nb) AS blk
          FROM inter),
    cand AS (SELECT DISTINCT p_partkey AS item,
            CAST(('0x' || substr(md5(CAST(p_partkey AS VARCHAR)), 1, 15))
              AS BIGINT) % (SELECT blocks FROM nb) AS blk
          FROM part),
    scored AS (SELECT users.u, cand.item,
            CAST(('0x' || substr(md5(CAST(users.u AS VARCHAR) || '|'
              || CAST(cand.item AS VARCHAR)), 1, 15)) AS BIGINT) AS score
          FROM users JOIN cand USING (blk)
          WHERE NOT EXISTS (SELECT 1 FROM inter i
                            WHERE i.u = users.u AND i.item = cand.item))
    SELECT u AS o_custkey, item AS l_partkey, rk FROM (
      SELECT u, item, row_number() OVER
        (PARTITION BY u ORDER BY score, item) AS rk
      FROM scored)
    WHERE rk <= 5"""

  // —————————————————————————————— Fellegi–Sunter linkage (q209)
  // (probabilistic record linkage over nation-blocked customer pairs:
  //  three comparison fields — Jaro-Winkler name agreement, exact
  //  segment, balance within $100 — scored with PINNED micro-nat
  //  log-likelihood weights (ln(m/u) is a training artifact, so no
  //  engine takes a log on data). score > 0 ⇒ match.)
  val q209FsLinkage: Q = (s, dir) => {
    // pair-verification cap (the q20/q23 discipline): the blocked pair
    // space grows with block-size², so the oracle-checked fixture holds
    // its input constant past sf0.1 — the at-scale path tightens the
    // blocking key instead (name prefix ⊕ nation), same operator shape
    val c = Tables.customer(s, dir).where(col("c_custkey") < 30000)
    val l = c.where(pmod(col("c_custkey"), lit(2)) === 0)
      .select(col("c_custkey").as("a"), col("c_name").as("na"),
        col("c_mktsegment").as("sa"),
        round(col("c_acctbal") * 100).cast("long").as("ba"),
        col("c_nationkey").as("blk"))
    val r = c.where(pmod(col("c_custkey"), lit(2)) === 1)
      .select(col("c_custkey").as("b"), col("c_name").as("nb"),
        col("c_mktsegment").as("sb"),
        round(col("c_acctbal") * 100).cast("long").as("bb"),
        col("c_nationkey").as("blk"))
    // spread the stream side + pin the broadcast side (the q208
    // discipline): the fixture input is ≤ 30k keys by construction, so
    // the repartition is scale-free, and without it the blocked join —
    // and its ~2.25M single-task Jaro-Winkler evaluations — runs inside
    // the one-task scan stage (round-15 measurement). Spread on the
    // UNIQUE key `a`, not on blk: blk = c_nationkey has ≤ 25 distinct
    // values, which caps a blk-keyed spread at ~25 non-empty partitions
    // (round-16 ADVICE); the join itself is a broadcast on blk, so the
    // stream side's partitioning key is free to be whatever spreads best
    val pairs = l
      .repartition(s.conf.get("spark.sql.shuffle.partitions").toInt,
        col("a")) // pinned count: an unsized repartition is AQE-coalescible
      .join(broadcast(r), Seq("blk"))
      .select(col("a"), col("b"),
        (round(graft.functions.StringSimilarityExpressions
          .jaroWinkler(col("na"), col("nb")) * 1000000)
          .cast("long") >= 900000).as("name_agree"),
        (col("sa") === col("sb")).as("seg_agree"),
        (abs(col("ba") - col("bb")) <= 10000).as("bal_agree"))
    // m/u per field: name (0.9, 0.01), segment (0.95, 0.2),
    // balance (0.8, 0.05) — micro-nat logs pinned below
    graft.ops.Dedup.fellegiSunterScore(pairs, Seq(
      ("name_agree", 4499810L, -2292535L),
      ("seg_agree", 1558145L, -2772589L),
      ("bal_agree", 2772589L, -1558145L)))
  }
  private val q209Sql: String = """
    WITH l AS (SELECT c_custkey AS a, c_name AS na, c_mktsegment AS sa,
            CAST(round(c_acctbal * 100) AS BIGINT) AS ba,
            c_nationkey AS blk
          FROM customer WHERE c_custkey % 2 = 0 AND c_custkey < 30000),
    r AS (SELECT c_custkey AS b, c_name AS nb, c_mktsegment AS sb,
            CAST(round(c_acctbal * 100) AS BIGINT) AS bb,
            c_nationkey AS blk
          FROM customer WHERE c_custkey % 2 = 1 AND c_custkey < 30000),
    p AS (SELECT a, b,
            CAST(round(jaro_winkler_similarity(na, nb) * 1000000) AS BIGINT)
              >= 900000 AS name_agree,
            sa = sb AS seg_agree,
            abs(ba - bb) <= 10000 AS bal_agree
          FROM l JOIN r USING (blk))
    SELECT a, b, name_agree, seg_agree, bal_agree,
      (CASE WHEN name_agree THEN 4499810 ELSE -2292535 END
       + CASE WHEN seg_agree THEN 1558145 ELSE -2772589 END
       + CASE WHEN bal_agree THEN 2772589 ELSE -1558145 END) AS score_micro,
      (CASE WHEN name_agree THEN 4499810 ELSE -2292535 END
       + CASE WHEN seg_agree THEN 1558145 ELSE -2772589 END
       + CASE WHEN bal_agree THEN 2772589 ELSE -1558145 END) > 0 AS is_match
    FROM p"""

  // —————————————————————————————— Zipf profile (q210)
  // (top-50 rank-frequency table with the freq×rank diagnostic and
  //  exact ppm token-mass shares — all integers, no log-log fit.)
  val q210Zipf: Q = (s, dir) =>
    TextOps.zipfProfile(Tables.documents(s, dir), "text", topN = 50)
  private val q210Sql: String = """
    WITH t AS (SELECT unnest(string_split(lower(text), ' ')) AS w
               FROM documents),
    f AS (SELECT w, count(*) AS freq FROM t WHERE len(w) > 0 GROUP BY 1),
    tt AS (SELECT CAST(sum(freq) AS BIGINT) AS n_total FROM f),
    r AS (SELECT w, freq, row_number() OVER
            (ORDER BY freq DESC, w ASC) AS rank FROM f)
    SELECT rank, w AS word, freq, freq * rank AS freq_x_rank,
      (1000000 * freq) // n_total AS share_ppm
    FROM r CROSS JOIN tt WHERE rank <= 50"""

  // —————————————————————————————— Gini split quality (q211)
  // (feature-selection criterion in exact floored ppm: per source value
  //  the conditional label impurity, plus the parent row — no entropy,
  //  no logs, pure squared-count ratios.)
  val q211GiniSplit: Q = (s, dir) =>
    Analytics.giniSplit(Tables.documents(s, dir), "source", "lang")
  private val q211Sql: String = """
    WITH cell AS (SELECT source AS x, lang AS y, count(*) AS nxy
                  FROM documents GROUP BY 1, 2),
    perx AS (SELECT 'value' AS scope, CAST(x AS VARCHAR) AS x,
            CAST(sum(nxy) AS BIGINT) AS n,
            1000000 - CAST((1000000 * sum(nxy * nxy))
              // (sum(nxy) * sum(nxy)) AS BIGINT) AS gini_ppm
          FROM cell GROUP BY 2),
    lab AS (SELECT lang AS y, count(*) AS ny FROM documents GROUP BY 1),
    par AS (SELECT 'parent' AS scope, CAST(NULL AS VARCHAR) AS x,
            CAST(sum(ny) AS BIGINT) AS n,
            1000000 - CAST((1000000 * sum(ny * ny))
              // (sum(ny) * sum(ny)) AS BIGINT) AS gini_ppm
          FROM lab)
    SELECT scope, x, n, gini_ppm FROM perx
    UNION ALL SELECT scope, x, n, gini_ppm FROM par"""

  // —————————————————————————————— t-closeness audit (q212)
  // (the attribute-inference gate completing the release family: per QI
  //  class, total-variation distance of the class's nation distribution
  //  from the table-wide one — exact integer algebra on the common
  //  denominator, absent values contributing their full global mass.)
  val q212TCloseness: Q = (s, dir) =>
    Privacy.tCloseness(
      Tables.customer(s, dir)
        .select(col("c_mktsegment"),
          floor(col("c_acctbal") / 2000).cast("long").as("bal_bracket"),
          col("c_nationkey").cast("long").as("c_nationkey")),
      Seq("c_mktsegment", "bal_bracket"), "c_nationkey", tPpm = 300000)
  private val q212Sql: String = """
    WITH base AS (SELECT c_mktsegment AS seg,
            CAST(floor(c_acctbal / 2000) AS BIGINT) AS bb,
            CAST(c_nationkey AS BIGINT) AS v
          FROM customer),
    cell AS (SELECT seg, bb, v, count(*) AS c FROM base GROUP BY 1, 2, 3),
    cls AS (SELECT seg, bb, CAST(sum(c) AS BIGINT) AS n_class
            FROM cell GROUP BY 1, 2),
    gv AS (SELECT v, count(*) AS g FROM base GROUP BY 1),
    ng AS (SELECT count(*) AS n_global FROM base),
    lat AS (SELECT cls.seg, cls.bb, cls.n_class, gv.v, gv.g,
              ng.n_global, coalesce(cell.c, 0) AS c
            FROM cls CROSS JOIN gv CROSS JOIN ng
            LEFT JOIN cell ON cell.seg = cls.seg AND cell.bb = cls.bb
                          AND cell.v = gv.v)
    SELECT seg AS c_mktsegment, bb AS bal_bracket, n_class,
      CAST((1000000 * sum(abs(c * n_global - g * n_class)))
        // (2 * n_class * n_global) AS BIGINT) AS tv_dist_ppm,
      CAST((1000000 * sum(abs(c * n_global - g * n_class)))
        // (2 * n_class * n_global) AS BIGINT) <= 300000 AS t_close
    FROM lat GROUP BY 1, 2, 3, n_global"""

  // —————————————————————————————— grouped ROC AUC (q213)
  // (exact Mann–Whitney rank-sum AUC per event type: doubled average
  //  ranks keep ties integral, one floored-ppm division at the end;
  //  degenerate groups yield null, never a fake 0.5.)
  val q213GroupAuc: Q = (s, dir) =>
    Evaluation.groupAuc(
      Tables.events(s, dir)
        .where(col("value").isNotNull && col("user_id").isNotNull)
        .select(col("event_type"),
          round(col("value") * 1000).cast("long").as("score_milli"),
          (col("user_id") % 3 === 0).as("label")),
      "event_type", "score_milli", "label")
  private val q213Sql: String = """
    WITH b AS (SELECT event_type AS g,
            CAST(round(value * 1000) AS BIGINT) AS s,
            user_id % 3 = 0 AS y
          FROM events WHERE value IS NOT NULL AND user_id IS NOT NULL),
    sc AS (SELECT g, s, count(*) AS n,
            CAST(sum(CASE WHEN y THEN 1 ELSE 0 END) AS BIGINT) AS np
          FROM b GROUP BY 1, 2),
    rk AS (SELECT g, s, n, np,
            sum(n) OVER (PARTITION BY g ORDER BY s
              ROWS UNBOUNDED PRECEDING) AS c
          FROM sc),
    agg AS (SELECT g, CAST(sum(np * (c - n + 1 + c)) AS BIGINT) AS rp2,
            CAST(sum(np) AS BIGINT) AS npos,
            CAST(sum(n - np) AS BIGINT) AS nneg
          FROM rk GROUP BY 1)
    SELECT g AS event_type, npos, nneg,
      CASE WHEN npos > 0 AND nneg > 0 THEN
        CAST((1000000 * (rp2 - npos * (npos + 1))) // (2 * npos * nneg)
          AS BIGINT) END AS auc_ppm
    FROM agg"""

  // —————————————————————————————— compaction plan (q238)
  // (the nightly table-maintenance verb: a synthetic file listing —
  //  dir = event_type, ~193 files each, bytes from the event lattice —
  //  grouped into ~1 MB rewrite bins by the deterministic
  //  sequential-fill sweep. The oracle replays the cumsum lattice; one
  //  file in the wrong bin flips the hash.)
  val q238CompactionPlan: Q = (s, dir) => {
    val files = Tables.events(s, dir).where(col("event_type").isNotNull)
      .groupBy(col("event_type").as("dir_name"),
        (col("event_id") % 193).as("file_id"))
      .agg(sum(lit(100L) + col("event_id") % 9901).as("bytes"))
    Scale.compactionPlan(files, "dir_name", "file_id", "bytes",
      targetBytes = 1000000L)
  }
  private val q238Sql: String = """
    WITH f AS (SELECT event_type AS dir, event_id % 193 AS file_id,
            CAST(sum(100 + event_id % 9901) AS BIGINT) AS bytes
          FROM events WHERE event_type IS NOT NULL GROUP BY 1, 2),
    c AS (SELECT dir, bytes,
            sum(bytes) OVER (PARTITION BY dir
              ORDER BY bytes DESC, file_id ASC
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
          FROM f),
    b AS (SELECT dir, (cum - 1) // 1000000 AS bin_id, bytes FROM c)
    SELECT dir, CAST(bin_id AS BIGINT) AS bin_id,
      CAST(count(*) AS BIGINT) AS n_files,
      CAST(sum(bytes) AS BIGINT) AS bin_bytes,
      CAST(max(bytes) AS BIGINT) AS max_file_bytes,
      count(*) > 1 AS needs_compaction
    FROM b GROUP BY 1, 2"""

  // —————————————————————————————— JL random projection (q239)
  // (64-dim embeddings sign-projected to 8 dims ahead of ANN: the ±1
  //  matrix is a seeded md5 artifact the driver inlines and the oracle
  //  re-derives from DuckDB's md5 of the same "rp|jl|o|d" strings —
  //  narrow per-row map, zero shuffles.)
  val q239RandomProjection: Q = (s, dir) =>
    Similarity.randomProjection(Tables.embeddings(s, dir), "vec_id",
      "embedding", outDims = 8, seed = "jl")
  private val q239Sql: String = """
    WITH m AS (SELECT vec_id, i - 1 AS d,
            CAST(round(CAST(e[i] AS DOUBLE) * 1000000) AS BIGINT) AS xm
          FROM (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e
                FROM embeddings),
            unnest(range(1, len(e) + 1)) u(i)),
    s AS (SELECT m.vec_id, o.o AS out_dim, m.xm,
            CASE WHEN substr(md5('rp|jl|' || o.o || '|' || m.d), 1, 1)
                   IN ('0','1','2','3','4','5','6','7')
                 THEN 1 ELSE -1 END AS sgn
          FROM m, (SELECT unnest(range(0, 8)) AS o) o)
    SELECT vec_id, CAST(out_dim AS BIGINT) AS out_dim,
      CAST(sum(sgn * xm) AS BIGINT) AS proj_micro
    FROM s GROUP BY 1, 2"""

  // —————————————————————————————— embedding drift monitor (q240)
  // (the re-embedding gate: snapshot = vec_id div 100, per-snapshot
  //  mean-pooled centroid in q228's exact micro algebra, consecutive
  //  snapshots compared by cosine — the one 6 d.p. engine float — and
  //  the exact BIGINT squared-L2 shift that carries the hash.)
  val q240EmbeddingDrift: Q = (s, dir) =>
    Similarity.embeddingDrift(Tables.embeddings(s, dir), "vec_id",
      "embedding", expr("vec_id div 100"))
  private val q240Sql: String = """
    WITH x AS (SELECT vec_id // 100 AS snap, i - 1 AS dim,
            CAST(round(CAST(e[i] AS DOUBLE) * 1000000) AS BIGINT) AS xm
          FROM (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e
                FROM embeddings),
            unnest(range(1, len(e) + 1)) u(i)),
    c AS (SELECT snap, dim, CAST(sum(xm) // count(*) AS BIGINT) AS micro
          FROM x GROUP BY 1, 2),
    j AS (SELECT a.snap AS snap, a.micro AS m, b.micro AS pm
          FROM c a JOIN c b ON a.dim = b.dim AND b.snap = a.snap - 1)
    SELECT CAST(snap AS BIGINT) AS snapshot,
      CAST(count(*) AS BIGINT) AS n_dims,
      CASE WHEN sum(m * m) = 0 OR sum(pm * pm) = 0 THEN NULL
        ELSE round(CAST(sum(m * pm) AS DOUBLE) /
          sqrt(CAST(sum(m * m) AS DOUBLE) * CAST(sum(pm * pm) AS DOUBLE)),
          6) END AS cos_prev,
      CAST(sum((m - pm) * (m - pm)) AS BIGINT) AS l2_micro2
    FROM j GROUP BY 1"""

  // —————————————————————————————— data-contract expectations (q241)
  // (the dbt-test verb: six declared rules over orders/lineitem — row
  //  predicates fused into one aggregate per table, a composite-key
  //  uniqueness count, a referential anti-join — into one uniform
  //  report. Thresholds chosen so the suite contains BOTH passing and
  //  failing rules; an unevaluable predicate counts as violated.)
  val q241Expectations: Q = (s, dir) => {
    val o = Tables.orders(s, dir)
    val l = Tables.lineitem(s, dir)
    Analytics.expectRows(o, Seq(
        "orders_custkey_not_null" -> col("o_custkey").isNull,
        "orders_totalprice_le_400k" ->
          !(col("o_totalprice") > 0 && col("o_totalprice") <= 400000)))
      .unionByName(Analytics.expectRows(l, Seq(
        "lineitem_quantity_le_45" ->
          !(col("l_quantity") >= 1 && col("l_quantity") <= 45),
        "lineitem_returnflag_accepted" ->
          !col("l_returnflag").isin("A", "N", "R"))))
      .unionByName(Analytics.expectUnique(o, "orders_orderkey_unique",
        Seq("o_orderkey")))
      .unionByName(Analytics.expectFk(l, o, "lineitem_orderkey_fk",
        "l_orderkey", "o_orderkey"))
  }
  private val q241Sql: String = """
    WITH rows AS (
      SELECT 'orders_custkey_not_null' AS rule,
        CAST(count(*) AS BIGINT) AS n_checked,
        CAST(sum(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT)
          AS n_violations
      FROM orders
      UNION ALL
      SELECT 'orders_totalprice_le_400k', CAST(count(*) AS BIGINT),
        CAST(sum(CASE WHEN NOT coalesce(
            o_totalprice > 0 AND o_totalprice <= 400000, FALSE)
          THEN 1 ELSE 0 END) AS BIGINT)
      FROM orders
      UNION ALL
      SELECT 'lineitem_quantity_le_45', CAST(count(*) AS BIGINT),
        CAST(sum(CASE WHEN NOT coalesce(
            l_quantity >= 1 AND l_quantity <= 45, FALSE)
          THEN 1 ELSE 0 END) AS BIGINT)
      FROM lineitem
      UNION ALL
      SELECT 'lineitem_returnflag_accepted', CAST(count(*) AS BIGINT),
        CAST(sum(CASE WHEN NOT coalesce(
            l_returnflag IN ('A', 'N', 'R'), FALSE)
          THEN 1 ELSE 0 END) AS BIGINT)
      FROM lineitem
      UNION ALL
      SELECT 'orders_orderkey_unique', CAST(sum(c) AS BIGINT),
        CAST(sum(CASE WHEN c > 1 THEN c ELSE 0 END) AS BIGINT)
      FROM (SELECT count(*) AS c FROM orders
            WHERE o_orderkey IS NOT NULL GROUP BY o_orderkey)
      UNION ALL
      SELECT 'lineitem_orderkey_fk', CAST(count(*) AS BIGINT),
        CAST(sum(CASE WHEN o_orderkey IS NULL THEN 1 ELSE 0 END) AS BIGINT)
      FROM (SELECT l.l_orderkey, o.o_orderkey FROM lineitem l
            LEFT JOIN (SELECT DISTINCT o_orderkey FROM orders
                       WHERE o_orderkey IS NOT NULL) o
              ON l.l_orderkey = o.o_orderkey
            WHERE l.l_orderkey IS NOT NULL))
    SELECT rule, n_checked, n_violations,
      CASE WHEN n_checked = 0 THEN NULL
        ELSE (1000000 * n_violations) // n_checked END AS viol_ppm,
      n_violations = 0 AS passed
    FROM rows"""

  // —————————————————————————————— speech segmentation (q242)
  // (voice-activity detection over the REAL WAV fixtures: per-window
  //  Σs² from the codec's interleaved samples, "speech" ⇔ the window's
  //  mean square strictly beats the clip's — a cross-multiplied BIGINT
  //  compare, no float threshold — consecutive speech windows merged
  //  into segments by the island algebra. The oracle replays the q89
  //  sample lattice and every window/segment decision.)
  val q242SpeechSegments: Q = (s, dir) =>
    Multimodal.speechSegments(s,
      s.read.parquet(Multimodal.Fixtures.dataset(s)), winSize = 50)
  private def q242Sql: String = s"""
    WITH a AS (SELECT media_id, 1 + media_id % 2 AS ch,
            100 + media_id % 400 AS n
          FROM read_parquet('${Multimodal.Fixtures.parquetPath}/*.parquet')
          WHERE media_type = 'audio' AND media_id % 23 <> 7),
    k AS (SELECT media_id, unnest(range(0, n * ch)) AS k FROM a),
    sm AS (SELECT media_id, k, (media_id + 2 * k) % 251 AS lo,
            (media_id + 2 * k + 1) % 251 AS hi
          FROM k),
    v AS (SELECT media_id, k // 50 AS w,
            (CASE WHEN hi > 127 THEN hi - 256 ELSE hi END) * 256 + lo AS s
          FROM sm),
    wi AS (SELECT media_id, w, count(*) AS nw,
            CAST(sum(s * s) AS BIGINT) AS e
          FROM v GROUP BY 1, 2),
    t AS (SELECT media_id, sum(nw) AS nt, sum(e) AS te
          FROM wi GROUP BY 1),
    loud AS (SELECT wi.media_id, wi.w, wi.e
          FROM wi JOIN t ON wi.media_id = t.media_id
          WHERE wi.e * t.nt > t.te * wi.nw),
    fl AS (SELECT media_id, w, e,
            CASE WHEN w - coalesce(lag(w) OVER
                (PARTITION BY media_id ORDER BY w), -2) <> 1
              THEN 1 ELSE 0 END AS ns
          FROM loud),
    seg AS (SELECT media_id, w, e,
            sum(ns) OVER (PARTITION BY media_id ORDER BY w
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
          FROM fl)
    SELECT media_id, CAST(sid AS BIGINT) AS seg_id,
      CAST(min(w) AS BIGINT) AS start_win, CAST(max(w) AS BIGINT) AS end_win,
      CAST(count(*) AS BIGINT) AS n_windows,
      CAST(sum(e) AS BIGINT) AS seg_energy
    FROM seg GROUP BY 1, 2"""

  // —————————————————————————————— salted skew join (q243)
  // (the skew-mitigation LAW under oracle check: lineitem ⋈ part with
  //  the big side salted 8 ways and the dim replicated per salt must
  //  equal the PLAIN join — the oracle IS the unsalted join, so any
  //  row lost or duplicated by the salt algebra flips the hash.)
  val q243SaltedJoin: Q = (s, dir) => {
    val dim = Tables.part(s, dir)
      .select(col("p_partkey").as("l_partkey"), col("p_brand"))
    val j = Scale.saltedEquiJoin(Tables.lineitem(s, dir), dim,
      "l_partkey", numSalts = 8, saltSource = col("l_orderkey"))
    j.groupBy("p_brand")
      .agg(count(lit(1)).as("n_items"),
        sum(round(col("l_quantity") * 100).cast("long")).as("qty_cent"),
        sum(round(col("l_extendedprice") * 100).cast("long"))
          .as("price_cent"))
  }
  private val q243Sql: String = """
    SELECT p_brand, CAST(count(*) AS BIGINT) AS n_items,
      CAST(sum(CAST(round(l_quantity * 100) AS BIGINT)) AS BIGINT)
        AS qty_cent,
      CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT)
        AS price_cent
    FROM lineitem JOIN part ON l_partkey = p_partkey
    GROUP BY 1"""

  // —————————————————————————————— feature propagation (q244)
  // (GNN-style mean message passing over the REAL part↔supplier
  //  bipartite graph from lineitem: parts carry retail cents,
  //  suppliers carry account-balance cents, two rounds of truncating
  //  integer neighborhood means. The oracle unrolls both rounds.)
  val q244FeaturePropagation: Q = (s, dir) => {
    val pairs = Tables.lineitem(s, dir)
      .where(col("l_partkey").isNotNull && col("l_suppkey").isNotNull)
      .select((col("l_partkey") * 2).as("p"),
        (col("l_suppkey") * 2 + 1).as("su"))
      .distinct()
    val edges = pairs.select(col("p").as("src"), col("su").as("dst"))
      .unionByName(pairs.select(col("su").as("src"), col("p").as("dst")))
    val nodes = Tables.part(s, dir)
      .select((col("p_partkey") * 2).as("nid"),
        round(col("p_retailprice") * 100).cast("long").as("feat"))
      .unionByName(Tables.supplier(s, dir)
        .select((col("s_suppkey") * 2 + 1).as("nid"),
          round(col("s_acctbal") * 100).cast("long").as("feat")))
    Graph.featurePropagate(nodes, "nid", "feat", edges, "src", "dst",
      rounds = 2)
  }
  private val q244Sql: String = """
    WITH pr AS (SELECT DISTINCT l_partkey * 2 AS p, l_suppkey * 2 + 1 AS su
          FROM lineitem
          WHERE l_partkey IS NOT NULL AND l_suppkey IS NOT NULL),
    e AS (SELECT p AS src, su AS dst FROM pr
          UNION ALL SELECT su, p FROM pr),
    f0 AS (SELECT p_partkey * 2 AS id,
            CAST(round(p_retailprice * 100) AS BIGINT) AS f
          FROM part
          UNION ALL
          SELECT s_suppkey * 2 + 1,
            CAST(round(s_acctbal * 100) AS BIGINT)
          FROM supplier),
    m1 AS (SELECT e.dst AS id, CAST(sum(f0.f) // count(*) AS BIGINT) AS fm
          FROM e JOIN f0 ON f0.id = e.src GROUP BY 1),
    f1 AS (SELECT f0.id, CAST(coalesce(m1.fm, f0.f) AS BIGINT) AS f
          FROM f0 LEFT JOIN m1 ON f0.id = m1.id),
    m2 AS (SELECT e.dst AS id, CAST(sum(f1.f) // count(*) AS BIGINT) AS fm
          FROM e JOIN f1 ON f1.id = e.src GROUP BY 1),
    f2 AS (SELECT f1.id, CAST(coalesce(m2.fm, f1.f) AS BIGINT) AS f
          FROM f1 LEFT JOIN m2 ON f1.id = m2.id)
    SELECT f0.id, f0.f AS feat_in, f2.f AS feat_out
    FROM f0 JOIN f2 ON f0.id = f2.id"""

  // —————————————————————————————— HLL rollup-merge law (q245)
  // (sketch mergeability across AGGREGATION LEVELS: per-(type, hour)
  //  register tables — the per-day form a 100 TB pipeline materializes
  //  — max-merged up to per-type must equal the direct per-type build
  //  EXACTLY. The oracle computes the direct estimate once and emits
  //  it for BOTH columns with law_holds = true: any divergence in the
  //  engine's merged path flips the hash.)
  val q245HllRollup: Q = (s, dir) => {
    val ev = Tables.events(s, dir).where(col("user_id").isNotNull &&
      col("ts").isNotNull && col("event_type").isNotNull)
    val hourly = Sketches.hllRegisters(
      ev.withColumn("gh", concat(col("event_type"), lit("|"),
        expr("unix_millis(cast(ts as timestamp)) div 3600000"))),
      "gh", "user_id")
    val rolled = hourly
      .withColumn("g", substring_index(col("g"), "|", 1))
      .groupBy("g", "b").agg(max(col("m")).as("m"))
    val merged = Sketches.hllEstimate(rolled)
    val direct = Sketches.hllDistinct(ev, "event_type", "user_id")
      .select(col("event_type").as("g"),
        col("n_registers").as("nreg_direct"),
        col("raw_est").as("raw_est_direct"))
    merged.join(direct, Seq("g"))
      .select(col("g").as("event_type"), col("n_registers"),
        col("raw_est").as("raw_est_merged"), col("raw_est_direct"),
        (col("raw_est") === col("raw_est_direct") &&
          col("n_registers") === col("nreg_direct")).as("law_holds"))
  }
  private val q245Sql: String = """
    WITH h AS (SELECT event_type AS g,
        CAST(('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 15))
          AS BIGINT) AS hv
      FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL
        AND event_type IS NOT NULL),
    r AS (SELECT g, hv % 1024 AS b,
        least(51 - length(ltrim(bin(hv >> 10), '0')), 40) AS rk
      FROM h),
    regs AS (SELECT g, b, max(rk) AS m FROM r GROUP BY 1, 2),
    z AS (SELECT g, count(*) AS n_registers,
        CAST(sum(1::BIGINT << (40 - m)) AS BIGINT)
          + (1024 - count(*)) * (1::BIGINT << 40) AS z_scaled
      FROM regs GROUP BY 1),
    est AS (SELECT g, n_registers,
        round((0.7213 / (1.0 + 1.079 / 1024)) * 1024 * 1024
          * CAST(1::BIGINT << 40 AS DOUBLE) / CAST(z_scaled AS DOUBLE), 2)
          AS raw_est
      FROM z)
    SELECT g AS event_type, CAST(n_registers AS BIGINT) AS n_registers,
      raw_est AS raw_est_merged, raw_est AS raw_est_direct,
      TRUE AS law_holds
    FROM est"""

  // —————————————————————————————— residual anomaly gate (q246)
  // (q234's decomposition fed into the robust |resid − median| > 3·MAD
  //  gate — doubled-median/quadrupled-MAD exact integers, order
  //  statistics from the distinct-residual cumulative frame. The
  //  oracle extends q234's CTE chain with the same algebra.)
  val q246ResidualAnomalies: Q = (s, dir) =>
    TimeSeries.residualAnomalies(
      TimeSeries.seasonalDecompose(Tables.events(s, dir),
        "event_type", "ts", "value", period = 24),
      "event_type", k = 3)
  private val q246Sql: String = {
    def med2(src: String, valCol: String, out: String) = s"""
    ${out}v AS (SELECT g, $valCol AS x, count(*) AS c FROM $src GROUP BY 1, 2),
    ${out}c AS (SELECT g, x, c, sum(c) OVER (PARTITION BY g ORDER BY x
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cc
          FROM ${out}v),
    ${out}n AS (SELECT g, sum(c) AS n FROM ${out}v GROUP BY 1),
    $out AS (SELECT a.g,
            CAST(max(CASE WHEN cc - c < (n + 1) // 2 AND cc >= (n + 1) // 2
              THEN x END)
            + max(CASE WHEN cc - c < n // 2 + 1 AND cc >= n // 2 + 1
              THEN x END) AS BIGINT) AS m2
          FROM ${out}c a JOIN ${out}n b ON a.g = b.g GROUP BY 1)"""
    q234Sql.replace("SELECT k AS event_type, hr, v AS v_cent, trend_q,",
      ", dec AS (SELECT k AS event_type, hr, v AS v_cent, trend_q,") + s"""),
    r AS (SELECT event_type AS g, hr, v_cent, resid_q FROM dec
          WHERE resid_q IS NOT NULL),
    ${med2("r", "resid_q", "med")},
    d AS (SELECT r.g, r.hr, r.v_cent, r.resid_q, med.m2,
            abs(2 * r.resid_q - med.m2) AS dev2
          FROM r JOIN med ON r.g = med.g),
    ${med2("d", "dev2", "mad")}
    SELECT d.g AS event_type, d.hr, d.v_cent, d.resid_q,
      d.m2 AS med2_q, mad.m2 AS mad4_q,
      2 * d.dev2 > 3 * mad.m2 AS is_anomaly
    FROM d JOIN mad ON d.g = mad.g"""
  }

  // —————————————————————————————— bloom runtime-filter join (q247)
  // (semi-join pushdown LAW under oracle check: orders probed against
  //  the target-segment customers' bloom position set — ~6/7 of probe
  //  rows die before the shuffle — must equal the PLAIN filtered join,
  //  which IS the oracle.)
  val q247BloomJoin: Q = (s, dir) => {
    val cust = Tables.customer(s, dir)
      .where(col("c_custkey") % 7 === 0)
      .select(col("c_custkey").as("o_custkey"), col("c_mktsegment"))
    graft.ops.Relational
      .bloomFilteredJoin(Tables.orders(s, dir), cust, "o_custkey")
      .groupBy("c_mktsegment")
      .agg(count(lit(1)).as("n_orders"),
        sum(round(col("o_totalprice") * 100).cast("long")).as("total_cent"))
  }
  private val q247Sql: String = """
    SELECT c_mktsegment, CAST(count(*) AS BIGINT) AS n_orders,
      CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
        AS total_cent
    FROM orders JOIN customer ON o_custkey = c_custkey
    WHERE c_custkey % 7 = 0
    GROUP BY 1"""

  // —————————————————————————————— loudness gain (q248)
  // (RMS-normalization in the POWER domain: per-clip mean square in
  //  exact milli units from the real WAV decode, gain to the pinned
  //  1e11-milli target as one truncating ppm division — no sqrt ever
  //  runs on data. Oracle replays the q89 sample lattice.)
  val q248LoudnessGain: Q = (s, dir) =>
    Multimodal.loudnessGain(s,
      s.read.parquet(Multimodal.Fixtures.dataset(s)),
      targetMsMilli = 100000000000L)
  private def q248Sql: String = s"""
    WITH a AS (SELECT media_id, 1 + media_id % 2 AS ch,
            100 + media_id % 400 AS n
          FROM read_parquet('${Multimodal.Fixtures.parquetPath}/*.parquet')
          WHERE media_type = 'audio' AND media_id % 23 <> 7),
    k AS (SELECT media_id, unnest(range(0, n * ch)) AS k FROM a),
    sm AS (SELECT media_id, (media_id + 2 * k) % 251 AS lo,
            (media_id + 2 * k + 1) % 251 AS hi
          FROM k),
    v AS (SELECT media_id,
            (CASE WHEN hi > 127 THEN hi - 256 ELSE hi END) * 256 + lo AS s
          FROM sm),
    c AS (SELECT media_id, count(*) AS n_samples,
            CAST(sum(s * s) AS BIGINT) AS sq
          FROM v GROUP BY 1),
    m AS (SELECT media_id, n_samples,
            CAST((1000 * sq) // n_samples AS BIGINT) AS ms_milli
          FROM c)
    SELECT media_id, CAST(n_samples AS BIGINT) AS n_samples, ms_milli,
      CASE WHEN ms_milli = 0 THEN NULL
        ELSE CAST((1000000 * 100000000000) // ms_milli AS BIGINT)
      END AS gain_ppm
    FROM m"""

  // —————————————————————————————— sliding-window HLL (q249)
  // (the "distinct users, trailing 24 h, every hour" dashboard from
  //  per-hour register tables alone — each register row exploded to
  //  the window-end hours it serves, per-bucket max union, standard
  //  estimate; NO raw-data rescan. The oracle replays the q166
  //  register algebra + the same explode/union.)
  val q249SlidingHll: Q = (s, dir) => {
    val ev = Tables.events(s, dir).where(col("user_id").isNotNull &&
      col("ts").isNotNull && col("event_type").isNotNull)
    val regs = Sketches.hllRegisters(
      ev.withColumn("gh", concat(col("event_type"), lit("|"),
        expr("unix_millis(cast(ts as timestamp)) div 3600000"))),
      "gh", "user_id")
      .select(substring_index(col("g"), "|", 1).as("g"),
        expr("cast(substring_index(g, '|', -1) as long)").as("hr"),
        col("b"), col("m"))
    Sketches.hllSlidingEstimate(regs, windowHours = 24)
      .withColumnRenamed("g", "event_type")
  }
  private val q249Sql: String = """
    WITH h AS (SELECT event_type AS g, epoch_ms(ts) // 3600000 AS hr,
        CAST(('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 15))
          AS BIGINT) AS hv
      FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL
        AND event_type IS NOT NULL),
    r AS (SELECT g, hr, hv % 1024 AS b,
        least(51 - length(ltrim(bin(hv >> 10), '0')), 40) AS rk
      FROM h),
    regs AS (SELECT g, hr, b, max(rk) AS m FROM r GROUP BY 1, 2, 3),
    srv AS (SELECT g, unnest(range(hr, hr + 24)) AS ho, b, m FROM regs),
    wreg AS (SELECT g, ho, b, max(m) AS m FROM srv GROUP BY 1, 2, 3),
    hrs AS (SELECT DISTINCT g, hr FROM regs),
    wa AS (SELECT wreg.g, wreg.ho, wreg.b, wreg.m
          FROM wreg JOIN hrs ON wreg.g = hrs.g AND wreg.ho = hrs.hr),
    z AS (SELECT g, ho, count(*) AS n_registers,
        CAST(sum(1::BIGINT << (40 - m)) AS BIGINT)
          + (1024 - count(*)) * (1::BIGINT << 40) AS z_scaled
      FROM wa GROUP BY 1, 2)
    SELECT g AS event_type, CAST(ho AS BIGINT) AS hr,
      CAST(n_registers AS BIGINT) AS n_registers, z_scaled,
      round((0.7213 / (1.0 + 1.079 / 1024)) * 1024 * 1024
        * CAST(1::BIGINT << 40 AS DOUBLE) / CAST(z_scaled AS DOUBLE), 2)
        AS raw_est
    FROM z"""

  // —————————————————————————————— SCD2 validity audit (q250)
  // (dimension-integrity gate over a DELIBERATELY dirty versions table
  //  — value-derived durations make real overlaps and gaps, every 97th
  //  version left open — per key: overlap/gap/current/dangling counts
  //  and the ok verdict. The oracle replays the same lag/lead walk.)
  val q250Scd2Audit: Q = (s, dir) => {
    val versions = Tables.events(s, dir)
      .where(col("user_id").isNotNull && col("ts").isNotNull &&
        col("value").isNotNull)
      .select(col("user_id"),
        unix_millis(col("ts").cast("timestamp")).as("vf"),
        when(col("event_id") % 97 === 0, lit(null).cast("long"))
          .otherwise(unix_millis(col("ts").cast("timestamp")) +
            round(col("value") * 100).cast("long") * 1000).as("vt"))
    graft.ops.Relational.scd2ValidityAudit(versions, "user_id", "vf", "vt")
  }
  private val q250Sql: String = """
    WITH v AS (SELECT user_id AS k, epoch_ms(ts) AS f,
        CASE WHEN event_id % 97 = 0 THEN NULL
          ELSE epoch_ms(ts) + CAST(round(value * 100) AS BIGINT) * 1000
        END AS t
      FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL
        AND value IS NOT NULL),
    l AS (SELECT k, f, t,
        lag(t) OVER (PARTITION BY k ORDER BY f, t NULLS LAST) AS pt,
        lead(f) OVER (PARTITION BY k ORDER BY f, t NULLS LAST) AS nf
      FROM v)
    SELECT k AS user_id, CAST(count(*) AS BIGINT) AS n_versions,
      CAST(sum(CASE WHEN pt IS NOT NULL AND f < pt THEN 1 ELSE 0 END)
        AS BIGINT) AS n_overlaps,
      CAST(sum(CASE WHEN pt IS NOT NULL AND f > pt THEN 1 ELSE 0 END)
        AS BIGINT) AS n_gaps,
      CAST(sum(CASE WHEN t IS NULL THEN 1 ELSE 0 END) AS BIGINT)
        AS n_current,
      CAST(sum(CASE WHEN t IS NULL AND nf IS NOT NULL THEN 1 ELSE 0 END)
        AS BIGINT) AS n_dangling_current,
      (sum(CASE WHEN pt IS NOT NULL AND f < pt THEN 1 ELSE 0 END) = 0
        AND sum(CASE WHEN t IS NULL THEN 1 ELSE 0 END) <= 1
        AND sum(CASE WHEN t IS NULL AND nf IS NOT NULL THEN 1 ELSE 0 END)
          = 0) AS ok
    FROM l GROUP BY 1"""

  // —————————————————————————————— watermark planner (q251)
  // (q227's lateness replay turned into the decision table: per
  //  candidate watermark delay, the exact ppm of events that would be
  //  dropped — one window + ONE global aggregate for all candidates.)
  val q251WatermarkPlan: Q = (s, dir) =>
    TimeSeries.watermarkPlan(Tables.events(s, dir), "user_id", "ts",
      "event_id", Seq(0L, 60000L, 300000L, 900000L, 3600000L))
  private val q251Sql: String = """
    WITH e AS (SELECT user_id, event_id, epoch_ms(ts) AS ts_ms
          FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL
            AND event_id IS NOT NULL),
    l AS (SELECT max(ts_ms) OVER (PARTITION BY user_id ORDER BY event_id
            ROWS UNBOUNDED PRECEDING) - ts_ms AS late_ms
          FROM e),
    d AS (SELECT unnest([0, 60000, 300000, 900000, 3600000]) AS delay_ms)
    SELECT CAST(d.delay_ms AS BIGINT) AS delay_ms,
      CAST(count(*) AS BIGINT) AS n_events,
      CAST(sum(CASE WHEN l.late_ms > d.delay_ms THEN 1 ELSE 0 END)
        AS BIGINT) AS n_late,
      (1000000 * CAST(sum(CASE WHEN l.late_ms > d.delay_ms
          THEN 1 ELSE 0 END) AS BIGINT)) // count(*) AS drop_ppm
    FROM l CROSS JOIN d GROUP BY 1"""

  // —————————————————————————————— multi-source BFS (q252)
  // (supply-chain blast radius: hop distances from nation-0 suppliers
  //  over the real part↔supplier bipartite graph, 3 unrolled frontier
  //  rounds — each joins only the NEW frontier; unreached nodes absent.
  //  The oracle unrolls the same rounds with NOT-IN anti-joins.)
  val q252BfsDistances: Q = (s, dir) => {
    val pairs = Tables.lineitem(s, dir)
      .where(col("l_partkey").isNotNull && col("l_suppkey").isNotNull)
      .select((col("l_partkey") * 2).as("p"),
        (col("l_suppkey") * 2 + 1).as("su"))
      .distinct()
    val edges = pairs.select(col("p").as("src"), col("su").as("dst"))
      .unionByName(pairs.select(col("su").as("src"), col("p").as("dst")))
    val seeds = Tables.supplier(s, dir)
      .where(col("s_nationkey") === 0)
      .select((col("s_suppkey") * 2 + 1).as("node"))
    Graph.bfsDistances(seeds, "node", edges, "src", "dst", maxHops = 3)
  }
  private val q252Sql: String = """
    WITH pr AS (SELECT DISTINCT l_partkey * 2 AS p, l_suppkey * 2 + 1 AS su
          FROM lineitem
          WHERE l_partkey IS NOT NULL AND l_suppkey IS NOT NULL),
    e AS (SELECT p AS src, su AS dst FROM pr
          UNION ALL SELECT su, p FROM pr),
    d0 AS (SELECT DISTINCT s_suppkey * 2 + 1 AS node FROM supplier
          WHERE s_nationkey = 0),
    f1 AS (SELECT DISTINCT e.dst AS node FROM e JOIN d0 ON e.src = d0.node
          WHERE e.dst NOT IN (SELECT node FROM d0)),
    k1 AS (SELECT node FROM d0 UNION ALL SELECT node FROM f1),
    f2 AS (SELECT DISTINCT e.dst AS node FROM e JOIN f1 ON e.src = f1.node
          WHERE e.dst NOT IN (SELECT node FROM k1)),
    k2 AS (SELECT node FROM k1 UNION ALL SELECT node FROM f2),
    f3 AS (SELECT DISTINCT e.dst AS node FROM e JOIN f2 ON e.src = f2.node
          WHERE e.dst NOT IN (SELECT node FROM k2))
    SELECT node, CAST(0 AS BIGINT) AS dist FROM d0
    UNION ALL SELECT node, CAST(1 AS BIGINT) FROM f1
    UNION ALL SELECT node, CAST(2 AS BIGINT) FROM f2
    UNION ALL SELECT node, CAST(3 AS BIGINT) FROM f3"""

  // —————————————————————————————— target encoding (q253)
  // (LOO + m-smoothed categorical encoding in exact floored ppm — the
  //  leakage-safe tabular feature; singleton categories emit null LOO,
  //  never a fake prior. One grouped aggregate + broadcast-back.)
  val q253TargetEncode: Q = (s, dir) =>
    Analytics.targetEncode(
      Tables.events(s, dir)
        .where(col("user_id").isNotNull)
        .withColumn("y", expr("cast(user_id % 3 = 0 as long)")),
      "event_id", "event_type", "y", m = 20)
  private val q253Sql: String = """
    WITH b AS (SELECT event_id AS id, event_type AS cat,
            CASE WHEN user_id % 3 = 0 THEN 1 ELSE 0 END AS y
          FROM events WHERE event_id IS NOT NULL
            AND event_type IS NOT NULL AND user_id IS NOT NULL),
    pc AS (SELECT cat, CAST(count(*) AS BIGINT) AS n,
            CAST(sum(y) AS BIGINT) AS pos
          FROM b GROUP BY 1),
    pr AS (SELECT (1000000 * CAST(sum(y) AS BIGINT)) // count(*)
            AS prior_ppm FROM b)
    SELECT b.id, b.cat, CAST(b.y AS BIGINT) AS y, pc.n AS cat_n,
      CASE WHEN pc.n > 1
        THEN (1000000 * (pc.pos - b.y)) // (pc.n - 1) END AS loo_ppm,
      (1000000 * pc.pos + 20 * pr.prior_ppm) // (pc.n + 20)
        AS smoothed_ppm
    FROM b JOIN pc ON b.cat = pc.cat CROSS JOIN pr"""

  // —————————————————————————————— norm-pruned exact MIPS (q254)
  // (max-inner-product retrieval with Cauchy–Schwarz band pruning; the
  //  LAW is the oracle — a brute-force ranked dot over all pairs. Any
  //  vector the pruning wrongly drops flips the hash.)
  val q254Mips: Q = (s, dir) => {
    val emb = Tables.embeddings(s, dir)
    val queries = emb.filter(col("vec_id") < 5)
      .select(col("vec_id").as("q_id"),
        Similarity.asDouble(col("embedding")).as("qvec"))
    Similarity.mipsTopKBatch(emb, queries, k = 10)
  }
  private val q254Sql: String = """
    WITH m AS (SELECT vec_id, i - 1 AS d,
            CAST(round(CAST(e[i] AS DOUBLE) * 1000000) AS BIGINT) AS xm
          FROM (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e
                FROM embeddings),
            unnest(range(1, len(e) + 1)) u(i)),
    q AS (SELECT vec_id AS q_id, d, xm AS qm FROM m WHERE vec_id < 5),
    dots AS (SELECT q.q_id, m.vec_id,
            CAST(sum(q.qm * m.xm) AS BIGINT) AS dot
          FROM q JOIN m ON q.d = m.d GROUP BY 1, 2),
    r AS (SELECT q_id, vec_id, dot, row_number() OVER
            (PARTITION BY q_id ORDER BY dot DESC, vec_id) AS rk
          FROM dots)
    SELECT q_id, vec_id, dot AS dot_micro2, CAST(rk AS BIGINT) AS rk
    FROM r WHERE rk <= 10"""

  // —————————————————————————————— generalization ladder (q255)
  // (k-anonymity's OTHER knob: how coarse must (user bucket, value
  //  bucket) get before every class reaches k = 25 — seven levels,
  //  each one grouped count reduced to a 4-number summary; the chosen
  //  level is the minimum that meets k, with the whole utility ladder
  //  kept visible.)
  val q255GeneralizationLadder: Q = (s, dir) => {
    val ev = Tables.events(s, dir)
      .where(col("user_id").isNotNull && col("value").isNotNull)
      .select((col("user_id") % 100).as("u"),
        round(col("value") * 100).cast("long").as("c"))
    val ladder = (0 to 6).map { l =>
      l -> Seq(expr(s"u div ${1L << l}L"),
        expr(s"c div ${math.pow(4, l).toLong}L"))
    }
    Privacy.generalizationLadder(ev, ladder, k = 25)
  }
  private val q255Sql: String = {
    val blocks = (0 to 6).map { l =>
      s"""SELECT CAST($l AS BIGINT) AS level,
        CAST(count(*) AS BIGINT) AS n_classes,
        CAST(min(c) AS BIGINT) AS min_class,
        CAST(max(c) AS BIGINT) AS max_class
      FROM (SELECT (user_id % 100) // ${1L << l} AS qu,
              CAST(round(value * 100) AS BIGINT) // ${math.pow(4, l).toLong}
                AS qv, count(*) AS c
            FROM events
            WHERE user_id IS NOT NULL AND value IS NOT NULL
            GROUP BY 1, 2)"""
    }.mkString("\n      UNION ALL\n      ")
    s"""
    WITH lv AS ($blocks),
    ch AS (SELECT min(CASE WHEN min_class >= 25 THEN level END) AS c
          FROM lv)
    SELECT level, n_classes, min_class, max_class,
      min_class >= 25 AS meets_k,
      ch.c IS NOT NULL AND level = ch.c AS is_chosen
    FROM lv CROSS JOIN ch"""
  }

  // —————————————————————————————— IVF index fsck (q256)
  // (the lifecycle's audit verb, proven on a DELIBERATELY corrupted
  //  index: build over vec_id ≥ 16, then 7 duplicate rows forced
  //  straight into partition 0 — the botched-manual-backfill failure.
  //  fsck must report exactly the planted damage: 14 duplicated rows,
  //  the misplaced copies whose argmax ≠ 0, and the same ids as
  //  sidecar mismatches. The oracle re-derives every count from the
  //  assignment lattice.)
  val q256IvfFsck: Q = (s, dir) => {
    val emb = Tables.embeddings(s, dir)
    val centroids = emb.filter(col("vec_id") < 16)
      .select(col("vec_id").as("cid"),
        Similarity.asDouble(col("embedding")).as("cvec"))
    val path = graft.Staging.once(s"fsck|$dir")(
      graft.Staging.scratch("graft_fsck").resolve("idx").toString)
    Similarity.buildIvfIndex(emb.filter(col("vec_id") >= 16), centroids,
      path)
    emb.filter(col("vec_id") >= 16 && col("vec_id") < 23)
      .select(col("vec_id"), col("embedding"))
      .write.mode("append").parquet(path + "/centroid_id=0")
    Similarity.ivfIndexFsck(s, path, centroids)
  }
  private val q256Sql: String = """
    WITH c AS (SELECT vec_id AS cid, CAST(embedding AS DOUBLE[]) AS cv
          FROM embeddings WHERE vec_id < 16),
    v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e
          FROM embeddings WHERE vec_id >= 16),
    asg AS (SELECT vec_id, cid, row_number() OVER
              (PARTITION BY vec_id ORDER BY cos DESC, cid) AS rn
            FROM (SELECT v.vec_id, c.cid,
                    list_dot_product(v.e, c.cv)
                      / (sqrt(list_dot_product(v.e, v.e))
                         * sqrt(list_dot_product(c.cv, c.cv))) AS cos
                  FROM v, c)),
    a1 AS (SELECT vec_id, cid FROM asg WHERE rn = 1),
    n AS (SELECT count(*) AS nv FROM v),
    pl AS (SELECT count(*) AS nbad FROM a1
          WHERE vec_id < 23 AND cid <> 0)
    SELECT 'unique_ids' AS check_name, CAST(nv + 7 AS BIGINT) AS n_checked,
      CAST(14 AS BIGINT) AS n_bad, FALSE AS ok FROM n
    UNION ALL
    SELECT 'placement', CAST(nv + 7 AS BIGINT), CAST(nbad AS BIGINT),
      nbad = 0 FROM n, pl
    UNION ALL
    SELECT 'sidecar', CAST(nv + nbad AS BIGINT), CAST(nbad AS BIGINT),
      nbad = 0 FROM n, pl"""

  // —————————————————————————————— truncation recall (q257)
  // (the Matryoshka question — are the first 16 of 64 dims enough? —
  //  as exact per-query top-10 overlap between the full and sliced
  //  rankings; both sides the deterministic 4-d.p./id-tiebreak brute
  //  force the oracle replays.)
  val q257TruncationRecall: Q = (s, dir) => {
    val emb = Tables.embeddings(s, dir)
    val queries = emb.filter(col("vec_id") < 8)
      .select(col("vec_id").as("q_id"),
        Similarity.asDouble(col("embedding")).as("qvec"))
    Evaluation.truncationRecall(emb, queries, k = 10, dims = 16)
  }
  private val q257Sql: String = """
    WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e
          FROM embeddings),
    q AS (SELECT vec_id AS q_id, e AS qe FROM v WHERE vec_id < 8),
    fr AS (SELECT q_id, vec_id FROM (
        SELECT q.q_id, v.vec_id, row_number() OVER (PARTITION BY q.q_id
            ORDER BY round(list_dot_product(v.e, q.qe)
              / (sqrt(list_dot_product(v.e, v.e))
                 * sqrt(list_dot_product(q.qe, q.qe))), 4) DESC,
              v.vec_id) AS rk
        FROM v, q) WHERE rk <= 10),
    vt AS (SELECT vec_id, e[1:16] AS e FROM v),
    qt AS (SELECT q_id, qe[1:16] AS qe FROM q),
    tr AS (SELECT q_id, vec_id FROM (
        SELECT qt.q_id, vt.vec_id, row_number() OVER (PARTITION BY qt.q_id
            ORDER BY round(list_dot_product(vt.e, qt.qe)
              / (sqrt(list_dot_product(vt.e, vt.e))
                 * sqrt(list_dot_product(qt.qe, qt.qe))), 4) DESC,
              vt.vec_id) AS rk
        FROM vt, qt) WHERE rk <= 10)
    SELECT fr.q_id, CAST(count(*) AS BIGINT) AS n_full,
      CAST(sum(CASE WHEN tr.vec_id IS NOT NULL THEN 1 ELSE 0 END)
        AS BIGINT) AS n_overlap,
      (1000000 * CAST(sum(CASE WHEN tr.vec_id IS NOT NULL THEN 1 ELSE 0
        END) AS BIGINT)) // count(*) AS recall_ppm
    FROM fr LEFT JOIN tr ON fr.q_id = tr.q_id AND fr.vec_id = tr.vec_id
    GROUP BY 1"""

  // —————————————————————————————— water-filling allocation (q258)
  // (crawl-budget quota: 300 document slots split across sources —
  //  small sources fully funded, big ones capped at the exact
  //  water-filling threshold, integer remainder distributed
  //  deterministically; Σ alloc = min(B, Σ demand) EXACTLY.)
  val q258WaterFill: Q = (s, dir) => {
    val demands = Tables.documents(s, dir)
      .where(col("source").isNotNull)
      .groupBy(col("source")).agg(count(lit(1)).as("n_docs"))
    Sampling.waterFillAllocation(demands, "source", "n_docs",
      budget = 300L)
  }
  private val q258Sql: String = """
    WITH d AS (SELECT source AS id, CAST(count(*) AS BIGINT) AS dd
          FROM documents WHERE source IS NOT NULL GROUP BY 1),
    o AS (SELECT id, dd,
            row_number() OVER (ORDER BY dd ASC, id ASC) AS rn,
            sum(dd) OVER (ORDER BY dd ASC, id ASC
              ROWS UNBOUNDED PRECEDING) AS s
          FROM d),
    t AS (SELECT count(*) AS n_all FROM d),
    kk AS (SELECT
            coalesce(max(CASE WHEN s + (t.n_all - rn) * dd <= 300
              THEN rn END), 0) AS k,
            coalesce(max(CASE WHEN s + (t.n_all - rn) * dd <= 300
              THEN s END), 0) AS sk
          FROM o, t),
    th AS (SELECT kk.k, kk.sk, t.n_all,
            CASE WHEN t.n_all > kk.k
              THEN (300 - kk.sk) // (t.n_all - kk.k) ELSE 0 END AS tt
          FROM kk, t)
    SELECT o.id AS source, o.dd AS demand,
      CAST(CASE WHEN o.rn <= th.k THEN o.dd
        ELSE th.tt + (CASE WHEN o.rn - th.k <=
            (300 - th.sk) - th.tt * (th.n_all - th.k)
          THEN 1 ELSE 0 END)
      END AS BIGINT) AS alloc
    FROM o, th"""

  // —————————————————————————————— weighted percentiles (q259)
  // (price-weighted quantity quantiles per return flag: the SMALLEST
  //  value whose cumulative weight reaches p·total/1000 — an actual
  //  data value, never an interpolation; distinct-value windows only.)
  val q259WeightedPercentiles: Q = (s, dir) =>
    Analytics.weightedPercentiles(
      Tables.lineitem(s, dir)
        .withColumn("price_cent",
          round(col("l_extendedprice") * 100).cast("long")),
      "l_returnflag", "l_quantity", "price_cent",
      permilles = Seq(250, 500, 900))
  private val q259Sql: String = """
    WITH b AS (SELECT l_returnflag AS g, CAST(l_quantity AS BIGINT) AS v,
            CAST(round(l_extendedprice * 100) AS BIGINT) AS wt
          FROM lineitem WHERE l_returnflag IS NOT NULL
            AND l_quantity IS NOT NULL AND l_extendedprice IS NOT NULL),
    vals AS (SELECT g, v, CAST(sum(wt) AS BIGINT) AS w
          FROM b GROUP BY 1, 2),
    c AS (SELECT g, v, w, CAST(sum(w) OVER (PARTITION BY g ORDER BY v
            ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cw
          FROM vals),
    tt AS (SELECT g, CAST(sum(w) AS BIGINT) AS tw FROM vals GROUP BY 1),
    p AS (SELECT unnest([250, 500, 900]) AS permille)
    SELECT c.g AS l_returnflag, CAST(p.permille AS BIGINT) AS permille,
      CAST(min(c.v) AS BIGINT) AS value, CAST(max(tt.tw) AS BIGINT)
        AS total_w
    FROM c JOIN tt ON c.g = tt.g CROSS JOIN p
    WHERE c.cw * 1000 >= p.permille * tt.tw
    GROUP BY 1, 2"""

  // —————————————————————————————— reshard movement (q260)
  // (capacity planning for a 32 → 40 shard grow-out: rendezvous
  //  hashing moves only keys a NEW shard wins — expected 8/40 = 20% —
  //  and this measures the exact realized ppm; the oracle replays the
  //  md5 score race under both shard counts.)
  val q260ReshardMovement: Q = (s, dir) =>
    Scale.reshardMovement(
      Tables.events(s, dir).select(col("event_id")).distinct(),
      "event_id", fromShards = 32, toShards = 40)
  private val q260Sql: String = """
    WITH k AS (SELECT DISTINCT event_id FROM events
          WHERE event_id IS NOT NULL),
    sf AS (SELECT event_id, j,
            CAST(('0x' || substr(md5(CAST(event_id AS VARCHAR) || '|' ||
              CAST(j AS VARCHAR)), 1, 8)) AS BIGINT) AS score
          FROM k, range(0, 40) t(j)),
    rf AS (SELECT event_id, j, row_number() OVER
            (PARTITION BY event_id ORDER BY score DESC, j) AS rk
          FROM sf WHERE j < 32),
    rt AS (SELECT event_id, j, row_number() OVER
            (PARTITION BY event_id ORDER BY score DESC, j) AS rk
          FROM sf),
    a AS (SELECT f.event_id, f.j AS s_from, t2.j AS s_to
          FROM (SELECT event_id, j FROM rf WHERE rk = 1) f
          JOIN (SELECT event_id, j FROM rt WHERE rk = 1) t2
            ON f.event_id = t2.event_id)
    SELECT CAST(32 AS BIGINT) AS from_shards,
      CAST(40 AS BIGINT) AS to_shards,
      CAST(count(*) AS BIGINT) AS n_keys,
      CAST(sum(CASE WHEN s_from <> s_to THEN 1 ELSE 0 END) AS BIGINT)
        AS n_moved,
      (1000000 * CAST(sum(CASE WHEN s_from <> s_to THEN 1 ELSE 0 END)
        AS BIGINT)) // count(*) AS moved_ppm
    FROM a"""

  // —————————————————————————————— as-of join with tolerance (q261)
  // (pandas merge_asof(tolerance=...): each purchase priced by the
  //  user's latest click AT MOST 10 minutes old — a staler match nulls
  //  exactly like no match. Tolerance rides the carried payload, no
  //  extra shuffle. The oracle is DuckDB's native ASOF LEFT JOIN plus
  //  the same staleness CASE.)
  val q261AsofTolerance: Q = (s, dir) => {
    val ev = Tables.events(s, dir)
      .where(col("user_id").isNotNull && col("ts").isNotNull)
      .withColumn("ts_ms", unix_millis(col("ts").cast("timestamp")))
    val purchases = ev.where(col("event_type") === "purchase")
      .select(col("user_id"), col("event_id"), col("ts_ms"))
    val clicks = ev.where(col("event_type") === "click" &&
        col("value").isNotNull)
      .groupBy(col("user_id").as("c_user"), col("ts_ms").as("c_ts"))
      .agg(max(round(col("value") * 100).cast("long"))
        .as("click_value_cent"))
    graft.ops.Relational.asOfJoinBackwardTolerant(purchases, clicks,
      "user_id", "c_user", "ts_ms", "c_ts", Seq("click_value_cent"),
      toleranceMs = 600000L)
  }
  private val q261Sql: String = """
    WITH e AS (SELECT user_id, event_id, event_type, epoch_ms(ts) AS ts_ms,
            value
          FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL),
    p AS (SELECT user_id, event_id, ts_ms FROM e
          WHERE event_type = 'purchase'),
    c AS (SELECT user_id AS c_user, ts_ms AS c_ts,
            max(CAST(round(value * 100) AS BIGINT)) AS v
          FROM e WHERE event_type = 'click' AND value IS NOT NULL
          GROUP BY 1, 2)
    SELECT p.user_id, p.event_id, p.ts_ms,
      CASE WHEN c.c_ts IS NULL OR p.ts_ms - c.c_ts > 600000 THEN NULL
        ELSE c.v END AS click_value_cent
    FROM p ASOF LEFT JOIN c
      ON p.user_id = c.c_user AND p.ts_ms >= c.c_ts"""

  // —————————————————————————————— exact-k balanced sample (q262)
  // (k = 100 documents per source by the smallest md5 draws — the
  //  same-size-per-class eval set; WindowGroupLimit prunes each group
  //  map-side, deterministic under any partitioning.)
  val q262ExactKSample: Q = (s, dir) =>
    Sampling.exactKPerGroup(
      Tables.documents(s, dir).select(col("doc_id"), col("source")),
      "doc_id", "source", k = 100)
  private val q262Sql: String = """
    WITH d AS (SELECT doc_id, source,
            CAST(('0x' || substr(md5('ek|' || CAST(doc_id AS VARCHAR)),
              1, 15)) AS BIGINT) AS draw
          FROM documents
          WHERE source IS NOT NULL AND doc_id IS NOT NULL),
    r AS (SELECT doc_id, source, row_number() OVER
            (PARTITION BY source ORDER BY draw, doc_id) AS rk
          FROM d)
    SELECT doc_id, source, CAST(rk AS BIGINT) AS draw_rank
    FROM r WHERE rk <= 100"""

  // —————————————————————————————— survivorship merge (q263)
  // (the MDM golden record: per user, each field independently from
  //  its latest non-null carrier — last event type overall, last
  //  purchase amount, last click prop — so sparse fields never get
  //  clobbered by rows that don't carry them. One packed-argmax
  //  aggregate per field, no windows.)
  val q263SurvivorshipMerge: Q = (s, dir) => {
    val rows = Tables.events(s, dir)
      .where(col("user_id").isNotNull && col("ts").isNotNull)
      .select(col("user_id"),
        unix_millis(col("ts").cast("timestamp")).as("ts_ms"),
        col("event_id"),
        col("event_type").as("last_event"),
        when(col("event_type") === "purchase",
          round(col("value") * 100).cast("long")).as("last_purchase_cent"),
        when(col("event_type") === "click",
          regexp_extract(col("props"), "([0-9]+)", 1).cast("long"))
          .as("last_click_k"))
    graft.ops.Relational.survivorshipMerge(rows, "user_id", "ts_ms",
      "event_id", Seq("last_event", "last_purchase_cent", "last_click_k"))
  }
  private val q263Sql: String = """
    WITH b AS (SELECT user_id, epoch_ms(ts) AS ts_ms, event_id,
            event_type AS f_ev,
            CASE WHEN event_type = 'purchase'
              THEN CAST(round(value * 100) AS BIGINT) END AS f_pc,
            CASE WHEN event_type = 'click'
              THEN CAST(regexp_extract(props, '([0-9]+)', 1) AS BIGINT)
            END AS f_ck
          FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL),
    n AS (SELECT user_id, CAST(count(*) AS BIGINT) AS n_members
          FROM b GROUP BY 1),
    pe AS (SELECT user_id, f_ev FROM (SELECT user_id, f_ev, row_number()
            OVER (PARTITION BY user_id ORDER BY ts_ms DESC, event_id DESC)
              AS rn
          FROM b WHERE f_ev IS NOT NULL) WHERE rn = 1),
    pp AS (SELECT user_id, f_pc FROM (SELECT user_id, f_pc, row_number()
            OVER (PARTITION BY user_id ORDER BY ts_ms DESC, event_id DESC)
              AS rn
          FROM b WHERE f_pc IS NOT NULL) WHERE rn = 1),
    pc AS (SELECT user_id, f_ck FROM (SELECT user_id, f_ck, row_number()
            OVER (PARTITION BY user_id ORDER BY ts_ms DESC, event_id DESC)
              AS rn
          FROM b WHERE f_ck IS NOT NULL) WHERE rn = 1)
    SELECT n.user_id, n.n_members, pe.f_ev AS last_event,
      pp.f_pc AS last_purchase_cent, pc.f_ck AS last_click_k
    FROM n LEFT JOIN pe ON n.user_id = pe.user_id
    LEFT JOIN pp ON n.user_id = pp.user_id
    LEFT JOIN pc ON n.user_id = pc.user_id"""

  // —————————————————————————————— bitemporal as-of (q264)
  // (the two-axis point-in-time read: versions whose valid time is the
  //  event time and whose TRANSACTION time lags by a deterministic
  //  ingest delay — "what did we believe on Jan 16 about the state
  //  valid on Jan 15?" One filtered scan + one packed-argmax
  //  aggregate; q170's one-axis as-of is the T = ∞ special case.)
  val q264BitemporalAsOf: Q = (s, dir) => {
    val versions = Tables.events(s, dir)
      .where(col("user_id").isNotNull && col("ts").isNotNull &&
        col("value").isNotNull)
      .select(col("user_id"), col("event_id"),
        unix_millis(col("ts").cast("timestamp")).as("valid_ms"),
        (unix_millis(col("ts").cast("timestamp")) +
          (col("event_id") % 1000) * 60000L).as("tx_ms"),
        round(col("value") * 100).cast("long").as("value_cent"))
    graft.ops.Relational.bitemporalAsOf(versions, "user_id",
      "valid_ms", "tx_ms", "event_id", Seq("value_cent"),
      validAt = 1705276800000L,  // 2024-01-15 00:00 UTC
      txAt = 1705363200000L)     // 2024-01-16 00:00 UTC
  }
  private val q264Sql: String = """
    WITH v AS (SELECT user_id, event_id, epoch_ms(ts) AS valid_ms,
            epoch_ms(ts) + (event_id % 1000) * 60000 AS tx_ms,
            CAST(round(value * 100) AS BIGINT) AS value_cent
          FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL
            AND value IS NOT NULL),
    f AS (SELECT * FROM v
          WHERE valid_ms <= 1705276800000 AND tx_ms <= 1705363200000),
    r AS (SELECT user_id, valid_ms, tx_ms, value_cent, row_number() OVER
            (PARTITION BY user_id
             ORDER BY valid_ms DESC, tx_ms DESC, event_id DESC,
               value_cent DESC) AS rn
          FROM f)
    SELECT user_id, CAST(valid_ms AS BIGINT) AS valid_ms,
      CAST(tx_ms AS BIGINT) AS tx_ms, value_cent
    FROM r WHERE rn = 1"""

  // —————————————————————————————— nProbe recall ladder (q265)
  // (the IVF tuning DECISION TABLE: mean recall@5 vs exact for
  //  nProbe ∈ {1,2,4,8} over the shared materialized index — the knob
  //  sweep an index operator reads before setting production nProbe.
  //  The oracle carries the ladder as one extra CTE dimension over
  //  q207's assignment/probe/ranking chain.)
  val q265NprobeLadder: Q = (s, dir) => {
    val emb = Tables.embeddings(s, dir)
    val centroids = emb.filter(col("vec_id") < 16)
      .select(col("vec_id").as("cid"),
        Similarity.asDouble(col("embedding")).as("cvec"))
    val queries = emb.filter(col("vec_id") < 5)
      .select(col("vec_id").as("q_id"),
        Similarity.asDouble(col("embedding")).as("qvec"))
    val corpus = emb.filter(col("vec_id") >= 16)
    val path = ivfRecallIndex(dir, corpus, centroids)
    val exact = Similarity.bruteForceTopKBatch(corpus, queries, k = 5)
    Seq(1, 2, 4, 8).map { np =>
      val approx = Similarity
        .ivfTopKIndexedBatch(path, centroids, queries, k = 5, nProbe = np)
      Evaluation.recallAtK(exact, approx, k = 5)
        .agg(count(lit(1)).as("n_queries"), sum("n_hit").as("hits_total"))
        .select(lit(np.toLong).as("n_probe"), col("n_queries"),
          col("hits_total"),
          expr("(1000000 * hits_total) div (5 * n_queries)")
            .as("recall_ppm"))
    }.reduce(_ unionByName _)
  }
  private val q265Sql: String = """
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
    pr AS (SELECT q_id, cid, row_number() OVER (PARTITION BY q_id ORDER BY
            list_dot_product(c.cv, q.qe)
              / (sqrt(list_dot_product(c.cv, c.cv))
                 * sqrt(list_dot_product(q.qe, q.qe))) DESC, c.cid) AS crn
          FROM c, q),
    lad AS (SELECT unnest([1, 2, 4, 8]) AS np),
    ascored AS (SELECT l.np, p.q_id, a.vec_id,
        round(list_dot_product(a.e, q.qe)
          / (sqrt(list_dot_product(a.e, a.e))
             * sqrt(list_dot_product(q.qe, q.qe))), 4) AS cos_sim
      FROM a1 a JOIN pr p ON a.cid = p.cid
      JOIN q ON q.q_id = p.q_id
      CROSS JOIN lad l
      WHERE p.crn <= l.np),
    at AS (SELECT np, q_id, vec_id FROM (SELECT *, row_number() OVER
        (PARTITION BY np, q_id ORDER BY cos_sim DESC, vec_id) AS rk
      FROM ascored) WHERE rk <= 5),
    bscored AS (SELECT q.q_id, v.vec_id,
        round(list_dot_product(v.e, q.qe)
          / (sqrt(list_dot_product(v.e, v.e))
             * sqrt(list_dot_product(q.qe, q.qe))), 4) AS cos_sim
      FROM v, q),
    bt AS (SELECT q_id, vec_id FROM (SELECT *, row_number() OVER
        (PARTITION BY q_id ORDER BY cos_sim DESC, vec_id) AS rk
      FROM bscored) WHERE rk <= 5),
    h AS (SELECT l.np, b.q_id,
            CAST(sum(CASE WHEN at.vec_id IS NOT NULL THEN 1 ELSE 0 END)
              AS BIGINT) AS n_hit
          FROM bt b CROSS JOIN lad l
          LEFT JOIN at ON at.np = l.np AND at.q_id = b.q_id
            AND at.vec_id = b.vec_id
          GROUP BY 1, 2)
    SELECT CAST(np AS BIGINT) AS n_probe,
      CAST(count(*) AS BIGINT) AS n_queries,
      CAST(sum(n_hit) AS BIGINT) AS hits_total,
      (1000000 * CAST(sum(n_hit) AS BIGINT)) // (5 * count(*))
        AS recall_ppm
    FROM h GROUP BY 1"""

  // —————————————————————————————— decayed engagement (q266)
  // (recency-weighted per-user value with a one-day half-life and NOT
  //  ONE float: whole-day ages, weight 2^(19−d) by pure bit shift,
  //  beyond-horizon exactly 0 — the decay family exact integers can
  //  carry. Pinned now = 2024-01-31T00:00Z.)
  val q266DecayedEngagement: Q = (s, dir) =>
    TimeSeries.decayedEngagement(
      Tables.events(s, dir).where(col("user_id").isNotNull),
      "user_id", "ts", "value", nowMs = 1706659200000L, horizonDays = 20)
  private val q266Sql: String = """
    WITH b AS (SELECT user_id,
            CAST(round(value * 100) AS BIGINT) AS cent,
            (1706659200000 - epoch_ms(ts)) // 86400000 AS d
          FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL
            AND value IS NOT NULL)
    SELECT user_id, CAST(count(*) AS BIGINT) AS n_events,
      CAST(sum(cent * (CASE WHEN d < 20
        THEN 1::BIGINT << CAST(19 - d AS INT) ELSE 0 END)) AS BIGINT)
        AS score_q
    FROM b GROUP BY 1"""

  // —————————————————————————————— CDC chunk dedup (q267)
  // (content-defined chunking: boundaries fall where a word's md5 ≡ 0
  //  mod 8, so an insertion re-synchronizes downstream chunks — the
  //  insertion-robust complement to q73's fixed-width spans. The Spark
  //  side chunks in ONE narrow higher-order projection; the oracle
  //  re-derives it via explode + prefix sum, proving the narrow plan
  //  equals the shuffling one.)
  val q267CdcChunkDedup: Q = (s, dir) =>
    Dedup.cdcChunkPairs(Tables.documents(s, dir), "text", "doc_id",
      divisor = 8, maxBucket = 50, minShared = 2L, minJaccPpm = 100000L)
  private val q267Sql: String = """
    WITH d AS (SELECT doc_id, string_split(lower(text), ' ') AS w
          FROM documents),
    t AS (SELECT doc_id, i, w[i] AS word
          FROM d, unnest(range(1, len(w) + 1)) u(i)),
    b AS (SELECT doc_id, i, word,
            CASE WHEN CAST(('0x' || substr(md5(word), 1, 8)) AS BIGINT)
              % 8 = 0 THEN 1 ELSE 0 END AS bd
          FROM t),
    c AS (SELECT doc_id, i, word,
            coalesce(sum(bd) OVER (PARTITION BY doc_id ORDER BY i
              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS ck
          FROM b),
    ch AS (SELECT doc_id, md5(string_agg(word, ' ' ORDER BY i)) AS h
          FROM c GROUP BY doc_id, ck),
    s AS (SELECT DISTINCT doc_id, h FROM ch),
    sz AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n FROM s GROUP BY 1),
    hot AS (SELECT h, count(*) AS dfc FROM s GROUP BY 1),
    sp AS (SELECT s.doc_id, s.h FROM s JOIN hot USING (h) WHERE dfc <= 50),
    pr AS (SELECT x.doc_id AS a, y.doc_id AS b,
            CAST(count(*) AS BIGINT) AS shared
          FROM sp x JOIN sp y ON x.h = y.h AND x.doc_id < y.doc_id
          GROUP BY 1, 2)
    SELECT pr.a, pr.b, pr.shared, za.n AS a_chunks, zb.n AS b_chunks,
      (1000000 * pr.shared) // (za.n + zb.n - pr.shared) AS jacc_ppm
    FROM pr JOIN sz za ON za.doc_id = pr.a JOIN sz zb ON zb.doc_id = pr.b
    WHERE pr.shared >= 2
      AND (1000000 * pr.shared) // (za.n + zb.n - pr.shared) >= 100000"""

  // —————————————————————————————— average precision @k (q268)
  // (the PR-curve eval AUC is blind to under imbalance: per event_type,
  //  rows ranked (score desc, id) — deterministic tiebreak — AP@1000 as
  //  exact floored-ppm precision terms; zero-positive groups null.)
  val q268AveragePrecision: Q = (s, dir) =>
    Evaluation.averagePrecisionAtK(
      Tables.events(s, dir)
        .where(col("value").isNotNull && col("user_id").isNotNull &&
          col("event_id").isNotNull)
        .select(col("event_type"),
          round(col("value") * 1000).cast("long").as("score_milli"),
          (col("user_id") % 3 === 0).as("label"), col("event_id")),
      "event_type", "score_milli", "label", "event_id", k = 1000)
  private val q268Sql: String = """
    WITH b AS (SELECT event_type AS g,
            CAST(round(value * 1000) AS BIGINT) AS s,
            user_id % 3 = 0 AS y, event_id AS id
          FROM events WHERE value IS NOT NULL AND user_id IS NOT NULL
            AND event_id IS NOT NULL),
    r AS (SELECT g, y, row_number() OVER
            (PARTITION BY g ORDER BY s DESC, id) AS rk
          FROM b),
    t AS (SELECT g, y, rk, sum(CASE WHEN y THEN 1 ELSE 0 END) OVER
            (PARTITION BY g ORDER BY rk) AS cp
          FROM (SELECT * FROM r WHERE rk <= 1000)),
    p AS (SELECT g,
            CAST(sum(CASE WHEN y THEN (1000000 * cp) // rk END) AS BIGINT)
              AS sp,
            CAST(sum(CASE WHEN y THEN 1 ELSE 0 END) AS BIGINT) AS npos_topk,
            CAST(count(*) AS BIGINT) AS n_scored
          FROM t GROUP BY 1),
    tot AS (SELECT g, CAST(sum(CASE WHEN y THEN 1 ELSE 0 END) AS BIGINT)
              AS npos_total
          FROM b GROUP BY 1)
    SELECT p.g AS event_type, p.n_scored, p.npos_topk, tot.npos_total,
      CASE WHEN tot.npos_total > 0
        THEN coalesce(p.sp, 0) // least(tot.npos_total, 1000) END AS ap_ppm
    FROM p JOIN tot USING (g)"""

  // —————————————————————————————— NN-descent kNN graph (q269)
  // (the build step for graph-based ANN indexes: start from modular-
  //  offset init lists, iterate "a neighbor of a neighbor is likely a
  //  neighbor" — each round re-ranks every node's 2-hop candidates by
  //  EXACT integer micro² L2 and keeps the k best. O(rounds·n·k²)
  //  scored pairs, never n². Input capped to vec_id < 400 so the
  //  oracle's dims-join re-derivation stays bounded; the oracle unrolls
  //  init + both rounds verbatim.)
  val q269NnDescent: Q = (s, dir) =>
    Similarity.nnDescent(
      Tables.embeddings(s, dir).where(col("vec_id") < 400),
      k = 4, rounds = 2)
  private val q269Sql: String = {
    def score(cIn: String, dOut: String) = s"""
    $dOut AS (SELECT c.src, c.nbr,
            CAST(sum((ma.xm - mb.xm) * (ma.xm - mb.xm)) AS BIGINT) AS dsq
          FROM $cIn c JOIN m ma ON ma.id = c.src
          JOIN m mb ON mb.id = c.nbr AND mb.d = ma.d
          GROUP BY 1, 2)"""
    def keep(dIn: String, sOut: String) = s"""
    $sOut AS (SELECT src, nbr, dsq, rk FROM (SELECT *, row_number() OVER
            (PARTITION BY src ORDER BY dsq, nbr) AS rk FROM $dIn)
          WHERE rk <= 4)"""
    def round(sIn: String, r: Int) = s"""
    u$r AS (SELECT src, nbr FROM $sIn UNION SELECT nbr, src FROM $sIn),
    c$r AS (SELECT DISTINCT a.src, b.nbr FROM u$r a JOIN u$r b
            ON a.nbr = b.src WHERE b.nbr <> a.src
          UNION SELECT src, nbr FROM $sIn),${score(s"c$r", s"d$r")},${keep(s"d$r", s"s$r")}"""
    s"""
    WITH e AS (SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS v
          FROM embeddings WHERE vec_id < 400),
    m AS (SELECT id, i - 1 AS d, CAST(round(v[i] * 1000000) AS BIGINT) AS xm
          FROM e, unnest(range(1, len(v) + 1)) u(i)),
    idx AS (SELECT id, row_number() OVER (ORDER BY id) - 1 AS x FROM e),
    nn AS (SELECT count(*) AS n FROM e),
    c0 AS (SELECT DISTINCT a.id AS src, b.id AS nbr
          FROM idx a CROSS JOIN (SELECT unnest([1, 7, 31, 101]) AS o) t
          CROSS JOIN nn CROSS JOIN idx b
          WHERE b.x = (a.x + t.o) % nn.n AND b.id <> a.id),${score("c0", "d0")},${keep("d0", "s0")},${round("s0", 1)},${round("s1", 2)}
    SELECT src, nbr, dsq AS l2sq_micro2, CAST(rk AS BIGINT) AS rk FROM s2"""
  }

  // —————————————————————————————— autocorrelation (q270)
  // (per-user ACF at lags 1..3 — the seasonality diagnostic behind
  //  window/decay choices. Centering multiplied through: e = n·c − Σc
  //  stays integer, r = Σe·e₊ₖ/Σe² one truncating ppm division;
  //  decimal(38)/HUGEINT sums. One ordered window pass scores all lags.)
  val q270Autocorrelation: Q = (s, dir) =>
    TimeSeries.autocorrelation(Tables.events(s, dir),
      "user_id", "ts", "value", "event_id", maxLag = 3)
  private val q270Sql: String = """
    WITH b AS (SELECT user_id AS g, CAST(round(value * 100) AS BIGINT) AS c,
            ts, event_id AS id
          FROM events WHERE user_id IS NOT NULL AND value IS NOT NULL
            AND ts IS NOT NULL AND event_id IS NOT NULL),
    st AS (SELECT g, CAST(count(*) AS BIGINT) AS n,
            CAST(sum(c) AS HUGEINT) AS s FROM b GROUP BY 1),
    ctr AS (SELECT b.g, st.n, CAST(st.n AS HUGEINT) * b.c - st.s AS e,
            b.ts, b.id
          FROM b JOIN st USING (g)),
    lagd AS (SELECT g, n, e,
            lag(e, 1) OVER w AS e1, lag(e, 2) OVER w AS e2,
            lag(e, 3) OVER w AS e3
          FROM ctr WINDOW w AS (PARTITION BY g ORDER BY ts, id)),
    agg AS (SELECT g, max(n) AS n, sum(e * e) AS den,
            sum(e * e1) AS n1, sum(e * e2) AS n2, sum(e * e3) AS n3
          FROM lagd GROUP BY 1)
    SELECT g AS user_id, CAST(t.l AS BIGINT) AS "lag", n,
      CASE WHEN den > 0 THEN CAST((1000000 *
        CASE t.l WHEN 1 THEN n1 WHEN 2 THEN n2 ELSE n3 END) // den
        AS BIGINT) END AS r_ppm
    FROM agg, unnest([1, 2, 3]) t(l)
    WHERE n > t.l"""

  // —————————————————————————————— Cramér's V matrix (q271)
  // (categorical association profiling — the dependence screen between
  //  fdAudit's all-or-nothing FDs. Exact micro chi² terms over the FULL
  //  marginal lattice — absent cells contribute, null categories join
  //  null-safe — one final sqrt rounded 6 d.p.)
  val q271CramersV: Q = (s, dir) =>
    Analytics.cramersV(
      Tables.events(s, dir).select(
        col("event_type"),
        (col("user_id") % 7).as("user_bucket"),
        (round(col("value") * 100).cast("long") % 5).as("value_bucket")),
      Seq("event_type", "user_bucket", "value_bucket"))
  private val q271Sql: String = {
    def pair(p: String, xa: String, ya: String, an: String, bn: String) = s"""
    ${p}cl AS (SELECT $xa AS x, $ya AS y, CAST(count(*) AS BIGINT) AS nxy
          FROM base GROUP BY 1, 2),
    ${p}rx AS (SELECT x AS mx, CAST(sum(nxy) AS BIGINT) AS r
          FROM ${p}cl GROUP BY 1),
    ${p}cy AS (SELECT y AS my, CAST(sum(nxy) AS BIGINT) AS c
          FROM ${p}cl GROUP BY 1),
    ${p}lt AS (SELECT rx.r, cy.c, coalesce(cl.nxy, 0) AS nxy
          FROM ${p}rx rx CROSS JOIN ${p}cy cy
          LEFT JOIN ${p}cl cl ON rx.mx IS NOT DISTINCT FROM cl.x
            AND cy.my IS NOT DISTINCT FROM cl.y),
    ${p}ag AS (SELECT CAST(sum((CAST(1000000 AS HUGEINT) *
              (nn.n * nxy - CAST(r AS HUGEINT) * c) *
              (nn.n * nxy - CAST(r AS HUGEINT) * c))
              // (nn.n * CAST(r AS HUGEINT) * c)) AS BIGINT) AS chi2_micro,
            CAST(max(nn.n) AS BIGINT) AS n
          FROM ${p}lt CROSS JOIN nn),
    ${p}fin AS (SELECT '$an' AS col_a, '$bn' AS col_b, ag.n,
            (SELECT CAST(count(*) AS BIGINT) FROM ${p}rx) AS r_card,
            (SELECT CAST(count(*) AS BIGINT) FROM ${p}cy) AS c_card,
            ag.chi2_micro,
            CASE WHEN least((SELECT count(*) FROM ${p}rx),
                (SELECT count(*) FROM ${p}cy)) > 1
              THEN round(sqrt(CAST(ag.chi2_micro AS DOUBLE) /
                (1000000.0 * ag.n *
                  (least((SELECT count(*) FROM ${p}rx),
                    (SELECT count(*) FROM ${p}cy)) - 1))), 6) END AS v
          FROM ${p}ag ag)"""
    s"""
    WITH base AS (SELECT event_type AS a, user_id % 7 AS b,
            CAST(round(value * 100) AS BIGINT) % 5 AS c
          FROM events),
    nn AS (SELECT CAST(count(*) AS HUGEINT) AS n FROM base),${pair("p1", "a", "b", "event_type", "user_bucket")},${pair("p2", "a", "c", "event_type", "value_bucket")},${pair("p3", "b", "c", "user_bucket", "value_bucket")}
    SELECT * FROM p1fin UNION ALL SELECT * FROM p2fin
    UNION ALL SELECT * FROM p3fin"""
  }

  // —————————————————————————————— Bradley–Terry strengths (q272)
  // (pairwise preference duels → per-item strengths, 3 unrolled MM
  //  rounds in exact micro integers — the RLHF preference-aggregation
  //  verb. Duels synthesized from events: arena of 16 items, winner
  //  decided by cent parity. Only the duel aggregation is data-sized;
  //  every MM round runs on items²-bounded frames.)
  val q272BradleyTerry: Q = (s, dir) => {
    val duels = Tables.events(s, dir)
      .where(col("event_id").isNotNull && col("value").isNotNull)
      .select(expr("event_id % 16").as("a"),
        expr("(event_id div 16) % 16").as("b"),
        (round(col("value") * 100).cast("long") % 2 === 0).as("a_wins"))
      .where(col("a") =!= col("b"))
      .select(when(col("a_wins"), col("a")).otherwise(col("b")).as("winner"),
        when(col("a_wins"), col("b")).otherwise(col("a")).as("loser"))
    Annotation.bradleyTerry(duels, "winner", "loser", iterations = 3)
  }
  private val q272Sql: String = {
    val iters = (0 until 3).map { k =>
      s"""d${k + 1} AS (SELECT g.item,
            sum((g.n * 1000000000000) // greatest(si.s + sj.s, 1)) AS denom
          FROM games g JOIN s$k si ON g.item = si.item
          JOIN s$k sj ON g.opp = sj.item GROUP BY 1),
    s${k + 1} AS (SELECT b.item,
            (CAST(b.wins AS HUGEINT) * 1000000000000)
              // greatest(d.denom, 1) AS s
          FROM base b JOIN d${k + 1} d ON b.item = d.item)"""
    }.mkString(",\n    ")
    s"""
    WITH raw AS (SELECT event_id % 16 AS a, (event_id // 16) % 16 AS b,
            CAST(round(value * 100) AS BIGINT) AS c
          FROM events WHERE event_id IS NOT NULL AND value IS NOT NULL),
    duels AS (SELECT CASE WHEN c % 2 = 0 THEN a ELSE b END AS w,
            CASE WHEN c % 2 = 0 THEN b ELSE a END AS l
          FROM raw WHERE a <> b),
    games AS (SELECT item, opp, CAST(count(*) AS HUGEINT) AS n
          FROM (SELECT w AS item, l AS opp FROM duels
                UNION ALL SELECT l, w FROM duels) GROUP BY 1, 2),
    wins AS (SELECT w AS item, CAST(count(*) AS BIGINT) AS wins
          FROM duels GROUP BY 1),
    base AS (SELECT item, n_games, coalesce(wins, 0) AS wins
          FROM (SELECT item, CAST(sum(n) AS BIGINT) AS n_games
                FROM games GROUP BY 1) t
          LEFT JOIN wins USING (item)),
    s0 AS (SELECT item, CAST(1000000 AS HUGEINT) AS s FROM base),
    $iters,
    tot AS (SELECT sum(s) AS s_tot FROM s3)
    SELECT b.item, b.wins, b.n_games, CAST(s.s AS BIGINT) AS strength_micro,
      CAST((s.s * 1000000) // greatest(t.s_tot, 1) AS BIGINT) AS share_ppm
    FROM base b JOIN s3 s ON b.item = s.item CROSS JOIN tot t"""
  }

  // —————————————————————————————— RA link prediction (q273)
  // (predict missing links on the q102/q124 pseudo-graph by the
  //  resource-allocation index — Σ 1e6 div deg(z) over common
  //  neighbors, the exact-integer member of the CN/AA/RA family;
  //  candidates from the wedge join with the hub cap, known links
  //  anti-joined away, top 50 by (score, a, b).)
  val q273RaLinkPred: Q = (s, dir) => {
    val docs = Tables.documents(s, dir)
    Graph.resourceAllocation(
        Graph.pseudoEdges(docs.select(col("doc_id")), "doc_id", docs.count()))
      .orderBy(col("ra_micro").desc, col("a"), col("b"))
      .limit(50)
  }
  private val q273Sql: String = """
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
    adj AS (SELECT a AS node, b AS nbr FROM und UNION ALL SELECT b, a FROM und),
    deg AS (SELECT node AS z, CAST(count(*) AS BIGINT) AS deg
            FROM adj GROUP BY 1),
    wedge AS (SELECT l.node AS x, r.node AS y, l.nbr AS z
              FROM adj l JOIN adj r ON l.nbr = r.nbr AND l.node < r.node),
    scored AS (SELECT w.x, w.y, CAST(count(*) AS BIGINT) AS n_common,
                CAST(sum(1000000 // d.deg) AS BIGINT) AS ra_micro
              FROM wedge w JOIN deg d ON w.z = d.z AND d.deg <= 10000
              GROUP BY 1, 2),
    pred AS (SELECT s.x AS a, s.y AS b, s.n_common, s.ra_micro
             FROM scored s WHERE NOT EXISTS
               (SELECT 1 FROM und u WHERE u.a = s.x AND u.b = s.y))
    SELECT a, b, n_common, ra_micro FROM pred
    ORDER BY ra_micro DESC, a, b LIMIT 50"""

  // —————————————————————————————— DP bounded contributions (q274)
  // (user-level DP: cap each user at 8 rows — the 8 smallest seeded md5
  //  draws, WindowGroupLimit-pruned map-side — making user-sensitivity
  //  exactly 8, then Laplace(8/0.5) on the bounded counts; groups whose
  //  rows were all capped away still release a noisy 0.)
  val q274DpBoundedCounts: Q = (s, dir) =>
    Privacy.dpBoundedCounts(Tables.events(s, dir), "event_type",
      "user_id", "event_id", cap = 8, epsilon = 0.5, seed = 1L)
  private val q274Sql: String = """
    WITH base AS (SELECT event_type AS g, user_id AS u, event_id AS id
          FROM events WHERE event_type IS NOT NULL
            AND user_id IS NOT NULL AND event_id IS NOT NULL),
    kept AS (SELECT g FROM (SELECT g, row_number() OVER (PARTITION BY u
              ORDER BY md5('cb|1|' || CAST(u AS VARCHAR) || '|' ||
                CAST(id AS VARCHAR)), id) AS rn
            FROM base) WHERE rn <= 8),
    bnd AS (SELECT g, CAST(count(*) AS BIGINT) AS n_bounded
          FROM kept GROUP BY 1),
    raw AS (SELECT g, CAST(count(*) AS BIGINT) AS n_unbounded
          FROM base GROUP BY 1),
    j AS (SELECT r.g, r.n_unbounded, coalesce(b.n_bounded, 0) AS n_bounded,
            (CAST(('0x' || substr(md5('dp|1|' || r.g), 1, 15)) AS BIGINT)
              + 0.5) / 1152921504606846976.0 AS u
          FROM raw r LEFT JOIN bnd b ON r.g = b.g)
    SELECT g AS event_type, n_unbounded, n_bounded,
      round(n_bounded - 16.0 *
        (CASE WHEN u - 0.5 > 0 THEN 1.0
              WHEN u - 0.5 < 0 THEN -1.0 ELSE 0.0 END)
        * ln(1.0 - 2.0 * abs(u - 0.5)), 6) AS noisy6
    FROM j"""

  // —————————————————————————————— Fellegi–Sunter EM learning (q275)
  // (the trainer behind q209's pinned weights: unsupervised two-class
  //  EM over the same nation-blocked agreement vectors, 2 rounds in
  //  exact ppm — E-step products folded with one truncating div 1e6
  //  per factor, M-step ratios on HUGEINT/BigInt, params clamped off
  //  the absorbing states; the single ln lands on the derived
  //  micro-nat weights, 6 d.p.)
  val q275FsEm: Q = (s, dir) => {
    val c = Tables.customer(s, dir).where(col("c_custkey") < 30000)
    val l = c.where(pmod(col("c_custkey"), lit(2)) === 0)
      .select(col("c_custkey").as("a"), col("c_name").as("na"),
        col("c_mktsegment").as("sa"),
        round(col("c_acctbal") * 100).cast("long").as("ba"),
        col("c_nationkey").as("blk"))
    val r = c.where(pmod(col("c_custkey"), lit(2)) === 1)
      .select(col("c_custkey").as("b"), col("c_name").as("nb"),
        col("c_mktsegment").as("sb"),
        round(col("c_acctbal") * 100).cast("long").as("bb"),
        col("c_nationkey").as("blk"))
    // spread the stream side + pin the broadcast side (the q208
    // discipline): the fixture input is ≤ 30k keys by construction, so
    // the repartition is scale-free, and without it the blocked join —
    // and its ~2.25M single-task Jaro-Winkler evaluations — runs inside
    // the one-task scan stage (round-15 measurement). Spread on the
    // UNIQUE key `a`, not on blk: blk = c_nationkey has ≤ 25 distinct
    // values, which caps a blk-keyed spread at ~25 non-empty partitions
    // (round-16 ADVICE); the join itself is a broadcast on blk, so the
    // stream side's partitioning key is free to be whatever spreads best
    val pairs = l
      .repartition(s.conf.get("spark.sql.shuffle.partitions").toInt,
        col("a")) // pinned count: an unsized repartition is AQE-coalescible
      .join(broadcast(r), Seq("blk"))
      .select(col("a"), col("b"),
        (round(graft.functions.StringSimilarityExpressions
          .jaroWinkler(col("na"), col("nb")) * 1000000)
          .cast("long") >= 900000).as("name_agree"),
        (col("sa") === col("sb")).as("seg_agree"),
        (abs(col("ba") - col("bb")) <= 10000).as("bal_agree"))
    Dedup.fellegiSunterEm(pairs,
      Seq("name_agree", "seg_agree", "bal_agree"), iterations = 2)
  }
  private val q275Sql: String = {
    val fs = Seq("name_agree", "seg_agree", "bal_agree")
    def fold(start: String, terms: Seq[(String, String)]) =
      terms.foldLeft(start) { case (acc, (f, t)) =>
        s"(($acc * (CASE WHEN $f THEN $t ELSE 1000000 - ($t) END)) // 1000000)"
      }
    def aggSql = fs.zipWithIndex.map { case (f, i) =>
      s"""CAST(sum(CASE WHEN $f THEN w ELSE 0 END) AS HUGEINT) AS swa${i + 1},
            CAST(sum(CASE WHEN $f THEN 1 ELSE 0 END) AS HUGEINT) AS na${i + 1}"""
    }.mkString(",\n            ")
    def mstep = fs.indices.map { i =>
      val k = i + 1
      s"""greatest(least((swa$k * 1000000) // greatest(sw, 1), 999999), 1)
              AS m$k,
            greatest(least(((1000000 * na$k - swa$k) * 1000000)
              // greatest(1000000 * n - sw, 1), 999999), 1) AS u$k"""
    }.mkString(",\n            ")
    val e1pm = fold("CAST(100000 AS BIGINT)", fs.map(f => f -> "800000"))
    val e1pu = fold("CAST(900000 AS BIGINT)", fs.map(f => f -> "200000"))
    val e2pm = fold("pp.lam",
      fs.zipWithIndex.map { case (f, i) => s"q.$f" -> s"pp.m${i + 1}" })
    val e2pu = fold("(1000000 - pp.lam)",
      fs.zipWithIndex.map { case (f, i) => s"q.$f" -> s"pp.u${i + 1}" })
    s"""
    WITH l AS (SELECT c_custkey AS a, c_name AS na, c_mktsegment AS sa,
            CAST(round(c_acctbal * 100) AS BIGINT) AS ba,
            c_nationkey AS blk
          FROM customer WHERE c_custkey % 2 = 0 AND c_custkey < 30000),
    r AS (SELECT c_custkey AS b, c_name AS nb, c_mktsegment AS sb,
            CAST(round(c_acctbal * 100) AS BIGINT) AS bb,
            c_nationkey AS blk
          FROM customer WHERE c_custkey % 2 = 1 AND c_custkey < 30000),
    p AS (SELECT a, b,
            CAST(round(jaro_winkler_similarity(na, nb) * 1000000) AS BIGINT)
              >= 900000 AS name_agree,
            sa = sb AS seg_agree,
            abs(ba - bb) <= 10000 AS bal_agree
          FROM l JOIN r USING (blk)),
    w1 AS (SELECT *, (pm * 1000000) // greatest(pm + pu, 1) AS w FROM
          (SELECT name_agree, seg_agree, bal_agree,
            $e1pm AS pm, $e1pu AS pu FROM p)),
    a1 AS (SELECT CAST(count(*) AS HUGEINT) AS n,
            CAST(sum(w) AS HUGEINT) AS sw,
            $aggSql
          FROM w1),
    p1 AS (SELECT greatest(least(sw // greatest(n, 1), 999999), 1) AS lam,
            $mstep
          FROM a1),
    w2 AS (SELECT *, (pm * 1000000) // greatest(pm + pu, 1) AS w FROM
          (SELECT q.name_agree, q.seg_agree, q.bal_agree,
            $e2pm AS pm, $e2pu AS pu FROM p q CROSS JOIN p1 pp)),
    a2 AS (SELECT CAST(count(*) AS HUGEINT) AS n,
            CAST(sum(w) AS HUGEINT) AS sw,
            $aggSql
          FROM w2),
    p2 AS (SELECT greatest(least(sw // greatest(n, 1), 999999), 1) AS lam,
            $mstep
          FROM a2),
    f AS (SELECT * FROM (VALUES (1, 'name_agree'), (2, 'seg_agree'),
            (3, 'bal_agree')) t(i, field))
    SELECT f.field, CAST(p2.lam AS BIGINT) AS lambda_ppm,
      CAST(CASE f.i WHEN 1 THEN p2.m1 WHEN 2 THEN p2.m2 ELSE p2.m3 END
        AS BIGINT) AS m_ppm,
      CAST(CASE f.i WHEN 1 THEN p2.u1 WHEN 2 THEN p2.u2 ELSE p2.u3 END
        AS BIGINT) AS u_ppm,
      round(ln(CAST(CASE f.i WHEN 1 THEN p2.m1 WHEN 2 THEN p2.m2
          ELSE p2.m3 END AS DOUBLE)
        / CAST(CASE f.i WHEN 1 THEN p2.u1 WHEN 2 THEN p2.u2
          ELSE p2.u3 END AS BIGINT)), 6) AS agree_w6,
      round(ln(CAST(1000000 - (CASE f.i WHEN 1 THEN p2.m1
          WHEN 2 THEN p2.m2 ELSE p2.m3 END) AS DOUBLE)
        / CAST(1000000 - (CASE f.i WHEN 1 THEN p2.u1 WHEN 2 THEN p2.u2
          ELSE p2.u3 END) AS BIGINT)), 6) AS disagree_w6
    FROM p2 CROSS JOIN f"""
  }

  // —————————————————————————————— partial autocorrelation (q276)
  // (the AR-order picker on top of q270: Durbin–Levinson unrolled to
  //  lag 3, every step one truncating integer division in pinned
  //  order; degenerate denominators and missing lags go null.)
  val q276Pacf: Q = (s, dir) =>
    TimeSeries.partialAutocorrelation(Tables.events(s, dir),
      "user_id", "ts", "value", "event_id")
  private val q276Sql: String = """
    WITH b AS (SELECT user_id AS g, CAST(round(value * 100) AS BIGINT) AS c,
            ts, event_id AS id
          FROM events WHERE user_id IS NOT NULL AND value IS NOT NULL
            AND ts IS NOT NULL AND event_id IS NOT NULL),
    st AS (SELECT g, CAST(count(*) AS BIGINT) AS n,
            CAST(sum(c) AS HUGEINT) AS s FROM b GROUP BY 1),
    ctr AS (SELECT b.g, st.n, CAST(st.n AS HUGEINT) * b.c - st.s AS e,
            b.ts, b.id
          FROM b JOIN st USING (g)),
    lagd AS (SELECT g, n, e,
            lag(e, 1) OVER w AS e1, lag(e, 2) OVER w AS e2,
            lag(e, 3) OVER w AS e3
          FROM ctr WINDOW w AS (PARTITION BY g ORDER BY ts, id)),
    agg AS (SELECT g, max(n) AS n, sum(e * e) AS den,
            sum(e * e1) AS n1, sum(e * e2) AS n2, sum(e * e3) AS n3
          FROM lagd GROUP BY 1),
    wide AS (SELECT g, n,
            CASE WHEN n > 1 AND den > 0
              THEN CAST((1000000 * n1) // den AS BIGINT) END AS r1,
            CASE WHEN n > 2 AND den > 0
              THEN CAST((1000000 * n2) // den AS BIGINT) END AS r2,
            CASE WHEN n > 3 AND den > 0
              THEN CAST((1000000 * n3) // den AS BIGINT) END AS r3
          FROM agg),
    p2 AS (SELECT *, CASE WHEN r1 IS NOT NULL AND r2 IS NOT NULL
              AND 1000000000000 - r1 * r1 <> 0
            THEN ((r2 * 1000000 - r1 * r1) * 1000000)
              // (1000000000000 - r1 * r1) END AS pacf2
          FROM wide),
    ph AS (SELECT *, r1 - (pacf2 * r1) // 1000000 AS phi21 FROM p2)
    SELECT g AS user_id, n, r1 AS pacf1_ppm, pacf2 AS pacf2_ppm,
      CASE WHEN r3 IS NOT NULL AND pacf2 IS NOT NULL
           AND 1000000 - (phi21 * r1) // 1000000
             - (pacf2 * r2) // 1000000 <> 0
      THEN ((r3 - (phi21 * r2) // 1000000
             - (pacf2 * r1) // 1000000) * 1000000)
           // (1000000 - (phi21 * r1) // 1000000
             - (pacf2 * r2) // 1000000) END AS pacf3_ppm
    FROM ph"""

  // —————————————————————————————— Kendall τ-b (q278)
  // (tie-exact rank correlation over the (quantity, discount) joint
  //  contingency lattice — pair counts from cell×cell, never row-pairs;
  //  work ∝ 550² cells per flag at ANY scale. Integer P/Q/tie terms,
  //  one final sqrt rounded 6 d.p. — the Spearman/Cramér complement.)
  val q278KendallTau: Q = (s, dir) =>
    Analytics.kendallTau(
      Tables.lineitem(s, dir).select(
        col("l_returnflag"),
        round(col("l_quantity") * 100).cast("long").as("qc"),
        round(col("l_discount") * 100).cast("long").as("dc")),
      "l_returnflag", "qc", "dc")
  private val q278Sql: String = """
    WITH b AS (SELECT l_returnflag AS g,
            CAST(round(l_quantity * 100) AS BIGINT) AS x,
            CAST(round(l_discount * 100) AS BIGINT) AS y
          FROM lineitem WHERE l_returnflag IS NOT NULL
            AND l_quantity IS NOT NULL AND l_discount IS NOT NULL),
    cells AS (SELECT g, x, y, CAST(count(*) AS BIGINT) AS nc
          FROM b GROUP BY 1, 2, 3),
    pq AS (SELECT a.g,
            sum(CASE WHEN a.y < c.y THEN CAST(a.nc AS HUGEINT) * c.nc
              ELSE 0 END) AS p,
            sum(CASE WHEN a.y > c.y THEN CAST(a.nc AS HUGEINT) * c.nc
              ELSE 0 END) AS q
          FROM cells a JOIN cells c ON a.g = c.g AND a.x < c.x GROUP BY 1),
    nt AS (SELECT g, CAST(sum(nc) AS HUGEINT) AS n FROM cells GROUP BY 1),
    tx AS (SELECT g, sum(CAST(t AS HUGEINT) * (t - 1)) AS n1x2 FROM
            (SELECT g, x, sum(nc) AS t FROM cells GROUP BY 1, 2) GROUP BY 1),
    ty AS (SELECT g, sum(CAST(t AS HUGEINT) * (t - 1)) AS n2x2 FROM
            (SELECT g, y, sum(nc) AS t FROM cells GROUP BY 1, 2) GROUP BY 1),
    fin AS (SELECT nt.g, nt.n, coalesce(pq.p, 0) AS p, coalesce(pq.q, 0) AS q,
            (nt.n * (nt.n - 1) - tx.n1x2) // 2 AS dx,
            (nt.n * (nt.n - 1) - ty.n2x2) // 2 AS dy
          FROM nt LEFT JOIN pq ON nt.g = pq.g
          JOIN tx ON nt.g = tx.g JOIN ty ON nt.g = ty.g)
    SELECT g AS l_returnflag, CAST(n AS BIGINT) AS n,
      CAST(p AS BIGINT) AS concordant, CAST(q AS BIGINT) AS discordant,
      CASE WHEN dx <> 0 AND dy <> 0
        THEN round((CAST(p AS DOUBLE) - CAST(q AS DOUBLE)) /
          sqrt(CAST(dx AS DOUBLE) * CAST(dy AS DOUBLE)), 6) END AS tau_b
    FROM fin"""

  // —————————————————————————————— isotonic calibration (q279)
  // (PAVA as the minimax closed form over 32 non-empty score bins —
  //  the quality-classifier calibration verb. One data-sized grouped
  //  count; the whole fit is bounded self-joins on the ≤32-row bin
  //  frame. Truncating ppm bin averages pinned in both engines; the
  //  fit is monotone by construction. Score/label fixture: md5 score,
  //  label correlated with score plus cent noise.)
  val q279Isotonic: Q = (s, dir) => {
    val ev = Tables.events(s, dir)
      .where(col("event_id").isNotNull && col("value").isNotNull)
      .select(
        (graft.functions.HashExpressions.md5Prefix64(col("event_id").cast("string"), 8) % 1000000).as("score_ppm"),
        pmod(round(col("value") * 100).cast("long"), lit(500)).as("noise"))
      .select(col("score_ppm"),
        when(expr("score_ppm div 2000") + col("noise") >= 400, 1L)
          .otherwise(0L).as("y"))
    Analytics.isotonicCalibration(ev, "score_ppm", "y", nBins = 32)
  }
  private val q279Sql: String = """
    WITH e AS (SELECT CAST(('0x' ||
              substr(md5(CAST(event_id AS VARCHAR)), 1, 8)) AS BIGINT)
              % 1000000 AS s,
            CAST(round(value * 100) AS BIGINT) AS cv
          FROM events WHERE event_id IS NOT NULL AND value IS NOT NULL),
    lb AS (SELECT s, CASE WHEN s // 2000 + ((cv % 500) + 500) % 500 >= 400
            THEN 1 ELSE 0 END AS y FROM e),
    binned AS (SELECT CAST(least(31, (CAST(s AS HUGEINT) * 32) // 1000000)
              AS BIGINT) AS bin,
            CAST(count(*) AS BIGINT) AS n, CAST(sum(y) AS BIGINT) AS pos
          FROM lb GROUP BY 1),
    pre AS (SELECT bin, n, pos,
            CAST(row_number() OVER (ORDER BY bin) AS BIGINT) AS i,
            sum(n) OVER (ORDER BY bin) AS cn,
            sum(pos) OVER (ORDER BY bin) AS cp
          FROM binned),
    g AS (SELECT j.i AS ji,
            min(CAST((CAST(1000000 AS HUGEINT) * (k.cp - (j.cp - j.pos)))
              // (k.cn - (j.cn - j.n)) AS BIGINT)) AS g
          FROM pre j JOIN pre k ON j.i <= k.i GROUP BY 1),
    f AS (SELECT pre.i, max(g.g) AS iso_ppm
          FROM pre JOIN g ON g.ji <= pre.i GROUP BY 1)
    SELECT pre.bin AS bin, pre.n, pre.pos,
      CAST((CAST(1000000 AS HUGEINT) * pre.pos) // pre.n AS BIGINT)
        AS rate_ppm,
      f.iso_ppm
    FROM pre JOIN f ON pre.i = f.i"""

  // —————————————————————————————— Krippendorff's alpha (q280)
  // (the multi-rater, missing-data reliability coefficient — kappa's
  //  production replacement when a labeling queue assigns 2-of-N
  //  raters per item. Fixture: 1024 units × 5 raters with md5 holes,
  //  1/4 of units planted as full-agreement. The one intrinsic
  //  per-unit /(m−1) runs as a truncating micro integer in a pinned
  //  order; α in exact ppm.)
  val q280Krippendorff: Q = (s, dir) => {
    def h(prefix: String, c: org.apache.spark.sql.Column) =
      graft.functions.HashExpressions.md5Prefix64(concat(lit(prefix), c), 8)
    val base = Tables.events(s, dir)
      .where(col("event_id").isNotNull)
      .select((col("event_id") % 1024).as("unit"),
        expr("(event_id div 1024) % 5").as("rater"))
    val keyed = base.select(col("unit"), col("rater"),
      concat(col("unit").cast("string"), lit("|"),
        col("rater").cast("string")).as("ur"))
    val votes = keyed
      .where(h("kp|", col("ur")) % 5 =!= 0)
      .select(col("unit"), col("rater"),
        when(h("ka|", col("unit").cast("string")) % 4 === 0,
          h("kl|", col("unit").cast("string")) % 3)
          .otherwise(h("kv|", col("ur")) % 3).as("label"))
    Annotation.krippendorffAlpha(votes, "unit", "rater", "label")
  }
  private val q280Sql: String = """
    WITH ev AS (SELECT DISTINCT event_id % 1024 AS unit,
            (event_id // 1024) % 5 AS rater
          FROM events WHERE event_id IS NOT NULL),
    ur AS (SELECT unit, rater,
            CAST(unit AS VARCHAR) || '|' || CAST(rater AS VARCHAR) AS ur
          FROM ev),
    votes AS (SELECT DISTINCT unit, rater,
            CASE WHEN CAST(('0x' || substr(md5('ka|' ||
                CAST(unit AS VARCHAR)), 1, 8)) AS BIGINT) % 4 = 0
              THEN CAST(('0x' || substr(md5('kl|' ||
                CAST(unit AS VARCHAR)), 1, 8)) AS BIGINT) % 3
              ELSE CAST(('0x' || substr(md5('kv|' || ur), 1, 8))
                AS BIGINT) % 3 END AS label
          FROM ur
          WHERE CAST(('0x' || substr(md5('kp|' || ur), 1, 8)) AS BIGINT)
            % 5 <> 0),
    uc AS (SELECT unit, label, CAST(count(*) AS BIGINT) AS nuc
          FROM votes GROUP BY 1, 2),
    um AS (SELECT unit, CAST(sum(nuc) AS BIGINT) AS mu FROM uc GROUP BY 1),
    pairable AS (SELECT uc.unit, uc.label, uc.nuc, um.mu
          FROM uc JOIN um USING (unit) WHERE um.mu >= 2),
    per_unit AS (SELECT unit, max(mu) AS mu,
            sum(CAST(nuc AS HUGEINT) * (mu - nuc)) AS disagree
          FROM pairable GROUP BY 1),
    totals AS (SELECT CAST(count(*) AS BIGINT) AS n_units,
            CAST(sum(mu) AS HUGEINT) AS n,
            sum((CAST(1000000 AS HUGEINT) * disagree) // (mu - 1))
              AS do_micro
          FROM per_unit),
    cats AS (SELECT label, CAST(sum(nuc) AS BIGINT) AS ncat
          FROM pairable GROUP BY 1),
    de AS (SELECT CAST(count(*) AS BIGINT) AS n_categories,
            sum(CAST(ncat AS HUGEINT) * ((SELECT n FROM totals) - ncat))
              AS de_num
          FROM cats)
    SELECT t.n_units, CAST(t.n AS BIGINT) AS n_values, de.n_categories,
      CAST(de.de_num AS BIGINT) AS de_num,
      CASE WHEN de.de_num <> 0 AND t.n >= 2
        THEN CAST(1000000 - (t.do_micro * (t.n - 1)) // de.de_num AS BIGINT)
      END AS alpha_ppm
    FROM totals t CROSS JOIN de"""

  // —————————————————————————————— Theil–Sen trend (q281)
  // (outlier-immune robust slope + Mann–Kendall S per event_type over
  //  the HOURLY lattice — pairwise statistics run on ≤720²/2 calendar-
  //  bounded pairs per key at any SF. Truncating milli-cent hourly
  //  means, micro slopes, doubled-integer median.)
  val q281TheilSen: Q = (s, dir) =>
    TimeSeries.theilSen(Tables.events(s, dir), "event_type", "ts", "value")
  private val q281Sql: String = """
    WITH b AS (SELECT event_type AS k, epoch_us(ts) // 3600000000 AS h,
            CAST(round(value * 100) AS BIGINT) AS c
          FROM events WHERE event_type IS NOT NULL AND ts IS NOT NULL
            AND value IS NOT NULL),
    hr AS (SELECT k, h,
            CAST((CAST(1000 AS HUGEINT) * sum(c)) // count(*) AS BIGINT) AS y
          FROM b GROUP BY 1, 2),
    pr AS (SELECT a.k,
            CAST((CAST(1000000 AS HUGEINT) * (c.y - a.y)) // (c.h - a.h)
              AS BIGINT) AS slope,
            CAST(sign(c.y - a.y) AS BIGINT) AS sgn
          FROM hr a JOIN hr c ON a.k = c.k AND a.h < c.h),
    nh AS (SELECT k, CAST(count(*) AS BIGINT) AS n_hours FROM hr GROUP BY 1)
    SELECT pr.k AS event_type, nh.n_hours, CAST(count(*) AS BIGINT) AS n_pairs,
      CAST(sum(sgn) AS BIGINT) AS mk_s,
      CAST(quantile_cont(slope * 2, 0.5) AS BIGINT) AS slope2_micro
    FROM pr JOIN nh ON pr.k = nh.k GROUP BY 1, 2"""

  // —————————————————————————————— encoding audit (q282)
  // (the pre-tokenization triage gate: U+FFFD, C0 controls, and
  //  Latin-1-mojibake markers counted exactly per document; corruption
  //  PLANTED deterministically by md5 bucket so the detector has
  //  ground truth at every SF. Narrow per-row map, no shuffle.)
  val q282EncodingAudit: Q = (s, dir) => {
    val d = Tables.documents(s, dir)
      .where(col("doc_id").isNotNull && col("text").isNotNull)
    val h = graft.functions.HashExpressions.md5Prefix64(concat(lit("enc|"),
      col("doc_id").cast("string")), 8) % 10
    val planted = d.select(col("doc_id"),
      when(h === 0, regexp_replace(col("text"), lit("a"), lit("Ã¡")))
        .when(h === 1, concat(col("text"), lit(" \uFFFD\uFFFD\uFFFD")))
        .when(h === 2, concat(col("text"), lit("\u0007\u0001")))
        .otherwise(col("text")).as("text"))
    graft.ops.Cleaning.encodingAudit(planted, "text", "doc_id")
  }
  private val q282Sql: String = """
    WITH p AS (SELECT doc_id,
            CASE CAST(('0x' || substr(md5('enc|' ||
                CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % 10
              WHEN 0 THEN replace(text, 'a', 'Ã¡')
              WHEN 1 THEN text || ' ' || repeat(chr(65533), 3)
              WHEN 2 THEN text || chr(7) || chr(1)
              ELSE text END AS text
          FROM documents WHERE doc_id IS NOT NULL AND text IS NOT NULL),
    c AS (SELECT doc_id, CAST(length(text) AS BIGINT) AS n_cp,
            CAST(len(regexp_extract_all(text, '\x{FFFD}')) AS BIGINT)
              AS n_replacement,
            CAST(len(regexp_extract_all(text,
              '[\x00-\x08\x0b\x0c\x0e-\x1f]')) AS BIGINT) AS n_control,
            CAST(len(regexp_extract_all(text, 'Ã|Â|â€')) AS BIGINT)
              AS n_mojibake
          FROM p)
    SELECT doc_id, n_cp, n_replacement, n_control, n_mojibake,
      CASE WHEN n_mojibake > 0 THEN 'mojibake'
           WHEN n_replacement > 0 THEN 'replacement'
           WHEN n_control > 0 THEN 'control'
           ELSE 'clean' END AS verdict
    FROM c"""

  // —————————————————————————————— script-mix profile (q283)
  // (per-document Unicode script counts — the homoglyph/spam screen
  //  ahead of language-ID. Cyrillic/Han/Arabic tokens planted by md5
  //  bucket onto the Latin base text; dominant script resolved by a
  //  pinned tie order, mixed flag at ≥ 2 letter scripts.)
  val q283ScriptMix: Q = (s, dir) => {
    val d = Tables.documents(s, dir)
      .where(col("doc_id").isNotNull && col("text").isNotNull)
    val b = graft.functions.HashExpressions.md5Prefix64(concat(lit("scr|"),
      col("doc_id").cast("string")), 8) % 8
    val planted = d.select(col("doc_id"),
      when(b === 0, concat(col("text"), lit(" привет мир кот")))
        .when(b === 1, concat(col("text"), lit(" 你好世界数据")))
        .when(b === 2, concat(col("text"), lit(" مرحبا بالعالم")))
        .otherwise(col("text")).as("text"))
    graft.ops.Cleaning.scriptMix(planted, "text", "doc_id")
  }
  private val q283Sql: String = """
    WITH p AS (SELECT doc_id,
            CASE CAST(('0x' || substr(md5('scr|' ||
                CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % 8
              WHEN 0 THEN text || ' привет мир кот'
              WHEN 1 THEN text || ' 你好世界数据'
              WHEN 2 THEN text || ' مرحبا بالعالم'
              ELSE text END AS text
          FROM documents WHERE doc_id IS NOT NULL AND text IS NOT NULL),
    c AS (SELECT doc_id,
            CAST(len(regexp_extract_all(text, '\p{Latin}')) AS BIGINT)
              AS n_latin,
            CAST(len(regexp_extract_all(text, '\p{Cyrillic}')) AS BIGINT)
              AS n_cyrillic,
            CAST(len(regexp_extract_all(text, '\p{Han}')) AS BIGINT)
              AS n_han,
            CAST(len(regexp_extract_all(text, '\p{Arabic}')) AS BIGINT)
              AS n_arabic,
            CAST(len(regexp_extract_all(text, '[0-9]')) AS BIGINT)
              AS n_digit
          FROM p)
    SELECT doc_id, n_latin, n_cyrillic, n_han, n_arabic, n_digit,
      CASE WHEN n_latin + n_cyrillic + n_han + n_arabic = 0 THEN 'none'
           WHEN n_latin >= n_cyrillic AND n_latin >= n_han
             AND n_latin >= n_arabic THEN 'latin'
           WHEN n_cyrillic >= n_han AND n_cyrillic >= n_arabic
             THEN 'cyrillic'
           WHEN n_han >= n_arabic THEN 'han'
           ELSE 'arabic' END AS dominant,
      (CASE WHEN n_latin > 0 THEN 1 ELSE 0 END +
       CASE WHEN n_cyrillic > 0 THEN 1 ELSE 0 END +
       CASE WHEN n_han > 0 THEN 1 ELSE 0 END +
       CASE WHEN n_arabic > 0 THEN 1 ELSE 0 END) >= 2 AS mixed
    FROM c"""

  // —————————————————————————————— Simpson's-paradox screen (q284)
  // (per-stratum vs pooled association SIGN over exact decimal
  //  covariance numerators — the mechanical trend-reversal audit.
  //  Two map-side-combinable aggregates; nothing data-sized shuffles.)
  val q284SimpsonFlip: Q = (s, dir) =>
    Analytics.simpsonFlip(
      Tables.lineitem(s, dir).select(
        col("l_returnflag"),
        round(col("l_discount") * 100).cast("long").as("dc"),
        round(col("l_quantity") * 100).cast("long").as("qc")),
      "l_returnflag", "dc", "qc")
  private val q284Sql: String = """
    WITH b AS (SELECT l_returnflag AS g,
            CAST(round(l_discount * 100) AS BIGINT) AS x,
            CAST(round(l_quantity * 100) AS BIGINT) AS y
          FROM lineitem WHERE l_returnflag IS NOT NULL
            AND l_discount IS NOT NULL AND l_quantity IS NOT NULL),
    per AS (SELECT g, CAST(count(*) AS BIGINT) AS n,
            CAST(sum(x) AS HUGEINT) AS sx, CAST(sum(y) AS HUGEINT) AS sy,
            CAST(sum(CAST(x AS HUGEINT) * y) AS HUGEINT) AS sxy
          FROM b GROUP BY 1),
    sg AS (SELECT g, n, CAST(sign(n * sxy - sx * sy) AS BIGINT) AS cov_sign
          FROM per),
    pl AS (SELECT CAST(sum(n) AS BIGINT) AS n,
            CAST(sign(sum(n) * sum(sxy) - sum(sx) * sum(sy)) AS BIGINT)
              AS pooled_sign
          FROM per)
    SELECT sg.g AS scope, sg.n, sg.cov_sign, pl.pooled_sign,
      (sg.cov_sign <> 0 AND pl.pooled_sign <> 0
        AND sg.cov_sign <> pl.pooled_sign) AS flips
    FROM sg CROSS JOIN pl
    UNION ALL
    SELECT 'ALL', pl.n, pl.pooled_sign, pl.pooled_sign, false FROM pl"""

  // —————————————————————————————— zone-map pruning audit (q285)
  // (the layout decision table: hash-by-orderkey files vs weekly
  //  time-clustered files, per-file min/max zone maps replayed against
  //  1997's four quarter predicates — files skipped, rows scanned,
  //  true matches. File lattices are modulus/calendar-bounded.)
  val q285ZoneMap: Q = (s, dir) =>
    graft.ops.Scale.zoneMapAudit(Tables.lineitem(s, dir),
      "l_shipdate", "l_orderkey",
      Seq((9862, 9952), (9952, 10043), (10043, 10135), (10135, 10227)))
  private val q285Sql: String = """
    WITH b AS (SELECT epoch_us(l_shipdate) // 86400000000 AS d,
            l_orderkey AS k
          FROM lineitem WHERE l_shipdate IS NOT NULL
            AND l_orderkey IS NOT NULL),
    preds AS (SELECT * FROM (VALUES (CAST(0 AS BIGINT), CAST(9862 AS BIGINT),
            CAST(9952 AS BIGINT)), (1, 9952, 10043), (2, 10043, 10135),
            (3, 10135, 10227)) t(pred_id, lo, hi)),
    lay AS (SELECT 'hash' AS layout, k % 64 AS f, d FROM b
          UNION ALL SELECT 'time', d // 7, d FROM b),
    zones AS (SELECT layout, f, min(d) AS mn, max(d) AS mx,
            CAST(count(*) AS BIGINT) AS rows_
          FROM lay GROUP BY 1, 2),
    aud AS (SELECT layout, pred_id,
            CAST(count(*) AS BIGINT) AS files_total,
            CAST(sum(CASE WHEN mx >= lo AND mn < hi THEN 1 ELSE 0 END)
              AS BIGINT) AS files_scanned,
            CAST(sum(CASE WHEN mx >= lo AND mn < hi THEN rows_ ELSE 0 END)
              AS BIGINT) AS rows_scanned
          FROM zones CROSS JOIN preds GROUP BY 1, 2),
    m AS (SELECT pred_id,
            CAST(sum(CASE WHEN d >= lo AND d < hi THEN 1 ELSE 0 END)
              AS BIGINT) AS rows_matched
          FROM b CROSS JOIN preds GROUP BY 1)
    SELECT aud.layout, aud.pred_id, aud.files_total, aud.files_scanned,
      aud.rows_scanned, m.rows_matched,
      (1000000 * (aud.files_total - aud.files_scanned)) // aud.files_total
        AS prune_ppm
    FROM aud JOIN m USING (pred_id)"""

  // —————————————————————————————— join-strategy planner (q286)
  // (pinned cost model over exact relation counts for the TPC-H join
  //  graph: broadcast ≤ 1e6 build rows, shuffle-hash when build ≤
  //  probe/4, else sort-merge; shuffled-row estimates for the rest.)
  val q286JoinPlan: Q = (s, dir) =>
    graft.ops.Scale.joinStrategyPlan(Seq(
      ("lineitem->orders", Tables.lineitem(s, dir), Tables.orders(s, dir)),
      ("lineitem->part", Tables.lineitem(s, dir), Tables.part(s, dir)),
      ("lineitem->supplier", Tables.lineitem(s, dir),
        Tables.supplier(s, dir)),
      ("orders->customer", Tables.orders(s, dir), Tables.customer(s, dir)),
      ("customer->nation", Tables.customer(s, dir), Tables.nation(s, dir)),
      ("nation->region", Tables.nation(s, dir), Tables.region(s, dir))),
      broadcastRows = 10000L)
  private val q286Sql: String = {
    def edge(name: String, l: String, r: String) = s"""
    SELECT '$name' AS edge,
      (SELECT CAST(count(*) AS BIGINT) FROM $l) AS left_rows,
      (SELECT CAST(count(*) AS BIGINT) FROM $r) AS right_rows"""
    val edges = Seq(("lineitem->orders", "lineitem", "orders"),
      ("lineitem->part", "lineitem", "part"),
      ("lineitem->supplier", "lineitem", "supplier"),
      ("orders->customer", "orders", "customer"),
      ("customer->nation", "customer", "nation"),
      ("nation->region", "nation", "region"))
      .map((edge _).tupled).mkString(" UNION ALL ")
    s"""
    WITH e AS ($edges)
    SELECT edge, left_rows, right_rows,
      CASE WHEN right_rows <= 10000 THEN 'broadcast'
           WHEN right_rows * 4 <= left_rows THEN 'shuffle_hash'
           ELSE 'sort_merge' END AS strategy,
      CASE WHEN right_rows <= 10000 THEN 0
           ELSE left_rows + right_rows END AS shuffled_rows
    FROM e"""
  }

  // —————————————————————————————— forget audit (q287)
  // (right-to-be-forgotten VERIFICATION: tombstoned customers
  //  (c_custkey % 97 = 13) audited against raw orders — residuals
  //  found, fails — and a scrubbed orders view — passes. Left-semi
  //  against the broadcast victim set; five numbers per table.)
  val q287ForgetAudit: Q = (s, dir) => {
    val victims = Tables.customer(s, dir)
      .where(col("c_custkey") % 97 === 13)
    val orders = Tables.orders(s, dir)
    graft.ops.Privacy.forgetAudit(victims, "c_custkey", Seq(
      ("orders_raw", orders, "o_custkey"),
      ("orders_scrubbed", orders.where(col("o_custkey") % 97 =!= 13),
        "o_custkey")))
  }
  private val q287Sql: String = """
    WITH v AS (SELECT DISTINCT c_custkey AS vk FROM customer
          WHERE c_custkey % 97 = 13),
    nv AS (SELECT CAST(count(*) AS BIGINT) AS n_victims FROM v),
    raw AS (SELECT CAST(count(*) AS BIGINT) AS residual_rows,
            CAST(count(DISTINCT o_custkey) AS BIGINT) AS residual_keys
          FROM orders WHERE o_custkey IN (SELECT vk FROM v)),
    scr AS (SELECT CAST(count(*) AS BIGINT) AS residual_rows,
            CAST(count(DISTINCT o_custkey) AS BIGINT) AS residual_keys
          FROM orders WHERE o_custkey % 97 <> 13
            AND o_custkey IN (SELECT vk FROM v))
    SELECT 'orders_raw' AS table_name, nv.n_victims, raw.residual_rows,
      raw.residual_keys, raw.residual_rows = 0 AS pass
    FROM nv CROSS JOIN raw
    UNION ALL
    SELECT 'orders_scrubbed', nv.n_victims, scr.residual_rows,
      scr.residual_keys, scr.residual_rows = 0
    FROM nv CROSS JOIN scr"""

  // —————————————————————————————— interpolation alignment (q288)
  // (resample each user's irregular series onto its own hourly grid by
  //  exact integer lerp — the step before any cross-series equality
  //  join. One union-sort per key; prev/next ride two IGNORE-NULLS
  //  running-last windows over the same exchange.)
  val q288Interpolate: Q = (s, dir) =>
    TimeSeries.interpolateAlign(Tables.events(s, dir),
      "user_id", "ts", "value", "event_id")
  private val q288Sql: String = """
    WITH ev AS (SELECT user_id AS k, epoch_us(ts) AS us,
            CAST(round(value * 100) AS BIGINT) AS cv, event_id AS id
          FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL
            AND value IS NOT NULL AND event_id IS NOT NULL),
    b AS (SELECT k, ((min(us) + 3599999999) // 3600000000) * 3600000000
              AS g0,
            (max(us) // 3600000000) * 3600000000 AS g1
          FROM ev GROUP BY 1),
    grid AS (SELECT k, unnest(range(g0, g1 + 1, 3600000000)) AS us
          FROM b WHERE g0 <= g1),
    u AS (SELECT k, us, cv, false AS is_grid, us AS us_ev, id FROM ev
          UNION ALL SELECT k, us, NULL, true, NULL, 0 FROM grid),
    wnd AS (SELECT k, us, is_grid,
            last_value(cv IGNORE NULLS) OVER wa AS py,
            last_value(us_ev IGNORE NULLS) OVER wa AS pt,
            last_value(cv IGNORE NULLS) OVER wd AS ny,
            last_value(us_ev IGNORE NULLS) OVER wd AS nt
          FROM u WINDOW
            wa AS (PARTITION BY k ORDER BY us ASC, is_grid ASC, id ASC
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
            wd AS (PARTITION BY k ORDER BY us DESC, is_grid ASC, id DESC
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
    SELECT k AS user_id, us // 1000 AS g_ms,
      CASE WHEN nt = pt THEN py * 1000
        ELSE CAST(1000 * py + ((CAST(ny AS HUGEINT) - py) * 1000 *
          (us - pt)) // (nt - pt) AS BIGINT) END AS y_milli
    FROM wnd WHERE is_grid"""

  // —————————————————————————————— resumable sessionization (q289)
  // (the checkpoint-resume LAW: sessionize part 1, carry one (last-µs,
  //  session-count) row per key, resume over part 2 — must equal the
  //  single pass, which is exactly what the oracle runs. 30-min gap,
  //  cut at 2024-01-15T00:00Z.)
  val q289ResumeSessions: Q = (s, dir) =>
    Analytics.resumableSessionize(Tables.events(s, dir),
      "user_id", "ts", "event_id",
      gapUs = 1800000000L, splitUs = 1705276800000000L)
  private val q289Sql: String = """
    WITH ev AS (SELECT user_id AS k, epoch_us(ts) AS us, event_id AS id
          FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL
            AND event_id IS NOT NULL),
    f AS (SELECT k, us, id,
            CASE WHEN lag(us) OVER w IS NULL
              OR us - lag(us) OVER w >= 1800000000
            THEN 1 ELSE 0 END AS flag
          FROM ev WINDOW w AS (PARTITION BY k ORDER BY us, id)),
    s AS (SELECT k, us, CAST(sum(flag) OVER (PARTITION BY k
            ORDER BY us, id ROWS BETWEEN UNBOUNDED PRECEDING AND
            CURRENT ROW) AS BIGINT) AS sess
          FROM f)
    SELECT k AS user_id, sess, CAST(count(*) AS BIGINT) AS n_events,
      min(us) // 1000 AS start_ms, max(us) // 1000 AS end_ms
    FROM s GROUP BY 1, 2"""

  // —————————————————————————————— classification report (q292)
  // (per-class precision/recall/F1 + MACRO from one confusion-cell
  //  count; predictions planted by md5: 1/5 of rows shifted to the
  //  alphabetically-next class, so every cell class is populated.)
  val q292Classification: Q = (s, dir) => {
    val ev = Tables.events(s, dir)
      .where(col("event_id").isNotNull && col("event_type").isNotNull)
    val h = graft.functions.HashExpressions.md5Prefix64(concat(lit("cls|"),
      col("event_id").cast("string")), 8) % 5
    val nxt = when(col("event_type") === "click", "error")
      .when(col("event_type") === "error", "purchase")
      .when(col("event_type") === "purchase", "signup")
      .when(col("event_type") === "signup", "view")
      .otherwise("click")
    Evaluation.classificationReport(
      ev.select(col("event_type").as("t"),
        when(h === 0, nxt).otherwise(col("event_type")).as("p")),
      "t", "p")
  }
  private val q292Sql: String = """
    WITH e AS (SELECT event_type AS t,
            CASE WHEN CAST(('0x' || substr(md5('cls|' ||
                CAST(event_id AS VARCHAR)), 1, 8)) AS BIGINT) % 5 = 0
              THEN CASE event_type WHEN 'click' THEN 'error'
                WHEN 'error' THEN 'purchase' WHEN 'purchase' THEN 'signup'
                WHEN 'signup' THEN 'view' ELSE 'click' END
              ELSE event_type END AS p
          FROM events WHERE event_id IS NOT NULL
            AND event_type IS NOT NULL),
    cells AS (SELECT t, p, CAST(count(*) AS BIGINT) AS n
          FROM e GROUP BY 1, 2),
    tt AS (SELECT t AS cls, CAST(sum(n) AS BIGINT) AS support
          FROM cells GROUP BY 1),
    pt AS (SELECT p AS cls, CAST(sum(n) AS BIGINT) AS pred_n
          FROM cells GROUP BY 1),
    dg AS (SELECT t AS cls, n AS tp FROM cells WHERE t = p),
    per AS (SELECT coalesce(tt.cls, pt.cls) AS cls,
            coalesce(dg.tp, 0) AS tp,
            coalesce(pt.pred_n, 0) - coalesce(dg.tp, 0) AS fp,
            coalesce(tt.support, 0) - coalesce(dg.tp, 0) AS fn,
            coalesce(tt.support, 0) AS support
          FROM tt FULL JOIN pt ON tt.cls = pt.cls
          LEFT JOIN dg ON coalesce(tt.cls, pt.cls) = dg.cls),
    pr AS (SELECT *,
            CASE WHEN tp + fp > 0 THEN (1000000 * tp) // (tp + fp) END
              AS precision_ppm,
            CASE WHEN tp + fn > 0 THEN (1000000 * tp) // (tp + fn) END
              AS recall_ppm
          FROM per),
    f1 AS (SELECT *,
            CASE WHEN precision_ppm IS NOT NULL AND recall_ppm IS NOT NULL
                AND precision_ppm + recall_ppm > 0
              THEN (2 * precision_ppm * recall_ppm)
                // (precision_ppm + recall_ppm) END AS f1_ppm
          FROM pr)
    SELECT cls, tp, fp, fn, support, precision_ppm, recall_ppm, f1_ppm
    FROM f1
    UNION ALL
    SELECT 'MACRO', CAST(sum(tp) AS BIGINT), CAST(sum(fp) AS BIGINT),
      CAST(sum(fn) AS BIGINT), CAST(sum(support) AS BIGINT),
      CAST(sum(coalesce(precision_ppm, 0)) // count(*) AS BIGINT),
      CAST(sum(coalesce(recall_ppm, 0)) // count(*) AS BIGINT),
      CAST(sum(coalesce(f1_ppm, 0)) // count(*) AS BIGINT)
    FROM f1"""

  // —————————————————————————————— mutual information matrix (q293)
  // (the information-theoretic dependence screen over q271's bucketed
  //  triple — exact counts inside one ln per occupied cell, rounded
  //  6 d.p. at the single float boundary.)
  val q293MutualInfo: Q = (s, dir) =>
    Analytics.mutualInfo(
      Tables.events(s, dir).select(
        col("event_type"),
        (col("user_id") % 7).as("user_bucket"),
        (round(col("value") * 100).cast("long") % 5).as("value_bucket")),
      Seq("event_type", "user_bucket", "value_bucket"))
  private val q293Sql: String = {
    def pair(p: String, xa: String, ya: String, an: String, bn: String) = s"""
    ${p}cl AS (SELECT $xa AS x, $ya AS y, CAST(count(*) AS BIGINT) AS nxy
          FROM base GROUP BY 1, 2),
    ${p}rx AS (SELECT x AS mx, CAST(sum(nxy) AS BIGINT) AS r
          FROM ${p}cl GROUP BY 1),
    ${p}cy AS (SELECT y AS my, CAST(sum(nxy) AS BIGINT) AS c
          FROM ${p}cl GROUP BY 1),
    ${p}fin AS (SELECT '$an' AS col_a, '$bn' AS col_b,
            (SELECT n FROM nn) AS n,
            CAST(count(*) AS BIGINT) AS occupied_cells,
            round(sum((CAST(nxy AS DOUBLE) / (SELECT n FROM nn)) *
              ln((CAST((SELECT n FROM nn) AS DOUBLE) * nxy) /
                (CAST(r AS DOUBLE) * c))), 6) AS mi_nats
          FROM ${p}cl
          JOIN ${p}rx ON x IS NOT DISTINCT FROM mx
          JOIN ${p}cy ON y IS NOT DISTINCT FROM my)"""
    s"""
    WITH base AS (SELECT event_type AS a, user_id % 7 AS b,
            CAST(round(value * 100) AS BIGINT) % 5 AS c
          FROM events),
    nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM base),${pair("p1", "a", "b", "event_type", "user_bucket")},${pair("p2", "a", "c", "event_type", "value_bucket")},${pair("p3", "b", "c", "user_bucket", "value_bucket")}
    SELECT * FROM p1fin UNION ALL SELECT * FROM p2fin
    UNION ALL SELECT * FROM p3fin"""
  }

  // —————————————————————————————— Kaplan–Meier retention (q294)
  // (right-censored survival per event_type: lifetime = first→last
  //  event days, censored at the 2024-01-28 horizon. The survival
  //  product is an exact truncating-ppm fold over sorted death steps —
  //  a SQL aggregate lambda in Spark, a recursive CTE in DuckDB,
  //  identical integers either way.)
  val q294KaplanMeier: Q = (s, dir) =>
    Analytics.kaplanMeier(Tables.events(s, dir),
      "event_type", "user_id", "ts", censorDay = 19750L)
  private val q294Sql: String = """
    WITH RECURSIVE sp AS (SELECT event_type AS g, user_id AS e,
            min(epoch_us(ts) // 86400000000) AS d0,
            max(epoch_us(ts) // 86400000000) AS d1
          FROM events WHERE event_type IS NOT NULL
            AND user_id IS NOT NULL AND ts IS NOT NULL
          GROUP BY 1, 2),
    lt AS (SELECT g, d1 - d0 AS t, d1 >= 19750 AS censored FROM sp),
    de AS (SELECT g, t, CAST(count(*) AS BIGINT) AS d
          FROM lt WHERE NOT censored GROUP BY 1, 2),
    ar AS (SELECT a.g, a.t,
            (SELECT CAST(count(*) AS BIGINT) FROM lt b
             WHERE b.g = a.g AND b.t >= a.t) AS n
          FROM (SELECT DISTINCT g, t FROM de) a),
    st AS (SELECT de.g, de.t, de.d, ar.n,
            CAST(row_number() OVER (PARTITION BY de.g ORDER BY de.t)
              AS BIGINT) AS rn
          FROM de JOIN ar ON de.g = ar.g AND de.t = ar.t),
    km(g, rn, s) AS (
      SELECT g, CAST(0 AS BIGINT), CAST(1000000 AS BIGINT)
      FROM (SELECT DISTINCT g FROM st)
      UNION ALL
      SELECT km.g, st.rn, (km.s * (st.n - st.d)) // st.n
      FROM km JOIN st ON st.g = km.g AND st.rn = km.rn + 1)
    SELECT st.g AS event_type, st.t, st.d, st.n, km.s AS s_ppm
    FROM st JOIN km ON st.g = km.g AND st.rn = km.rn"""

  // —————————————————————————————— n-gram novelty (q295)
  // (marginal contribution per document: distinct trigrams, how many
  //  exist in NO other document, novelty ppm. Digest-only shuffles;
  //  short docs go null, never fake.)
  val q295Novelty: Q = (s, dir) =>
    TextOps.ngramNovelty(Tables.documents(s, dir), "text", "doc_id", n = 3)
  private val q295Sql: String = """
    WITH d AS (SELECT doc_id, string_split(lower(text), ' ') AS w
          FROM documents WHERE doc_id IS NOT NULL AND text IS NOT NULL),
    g AS (SELECT DISTINCT doc_id,
            array_to_string(list_slice(w, i + 1, i + 3), ' ') AS gram
          FROM (SELECT doc_id, w,
                unnest(range(0, greatest(len(w) - 2, 0))) AS i FROM d)),
    dfq AS (SELECT gram, CAST(count(DISTINCT doc_id) AS BIGINT) AS df
          FROM g GROUP BY 1),
    per AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_ngrams,
            CAST(sum(CASE WHEN df = 1 THEN 1 ELSE 0 END) AS BIGINT)
              AS n_unique
          FROM g JOIN dfq USING (gram) GROUP BY 1)
    SELECT d.doc_id AS id, coalesce(per.n_ngrams, 0) AS n_ngrams,
      coalesce(per.n_unique, 0) AS n_unique,
      CASE WHEN per.n_ngrams > 0
        THEN (1000000 * per.n_unique) // per.n_ngrams END AS novelty_ppm
    FROM d LEFT JOIN per USING (doc_id)"""

  // —————————————————————————————— Borda ranking aggregation (q296)
  // (positional consolidation of full per-annotator rankings — the
  //  complement to Bradley–Terry's pairwise duels. 7 md5-seeded
  //  ballots over 16 items; points = ballot size − rank; final order
  //  pinned by (points desc, item asc). Exact integers throughout.)
  val q296Borda: Q = (s, dir) => {
    val latt = Tables.events(s, dir)
      .where(col("user_id").isNotNull && col("event_id").isNotNull)
      .select((col("user_id") % 7).as("ann"),
        (col("event_id") % 16).as("item"))
      .distinct()
    val scored = latt.withColumn("score",
      graft.functions.HashExpressions.md5Prefix64(concat(lit("bd|"), col("ann").cast("string"),
        lit("|"), col("item").cast("string")), 8))
    val ranked = scored.withColumn("rnk",
      row_number().over(org.apache.spark.sql.expressions.Window
        .partitionBy("ann").orderBy(col("score"), col("item"))).cast("long"))
    Annotation.bordaCount(ranked, "ann", "item", "rnk")
  }
  private val q296Sql: String = """
    WITH latt AS (SELECT DISTINCT user_id % 7 AS ann, event_id % 16 AS item
          FROM events WHERE user_id IS NOT NULL AND event_id IS NOT NULL),
    scored AS (SELECT ann, item,
            CAST(('0x' || substr(md5('bd|' || CAST(ann AS VARCHAR) || '|' ||
              CAST(item AS VARCHAR)), 1, 8)) AS BIGINT) AS score
          FROM latt),
    ranked AS (SELECT ann, item,
            CAST(row_number() OVER (PARTITION BY ann ORDER BY score, item)
              AS BIGINT) AS rnk
          FROM scored),
    bs AS (SELECT ann, CAST(count(*) AS BIGINT) AS bn
          FROM ranked GROUP BY 1),
    pts AS (SELECT item, CAST(count(*) AS BIGINT) AS n_ballots,
            CAST(sum(bn - rnk) AS BIGINT) AS points
          FROM ranked JOIN bs USING (ann) GROUP BY 1)
    SELECT item, n_ballots, points,
      CAST(row_number() OVER (ORDER BY points DESC, item ASC) AS BIGINT)
        AS final_rank
    FROM pts"""

  // —————————————————————————————— boilerplate removal (q297)
  // (CCNet frequency-based template removal, distinct from span dedup:
  //  EVERY occurrence of a line in > 30% of its source's docs drops.
  //  A per-source 6-word header is planted on every document; removal
  //  must excise exactly it and reassemble the original text.)
  val q297Boilerplate: Q = (s, dir) => {
    val d = Tables.documents(s, dir)
      .where(col("doc_id").isNotNull && col("text").isNotNull &&
        col("source").isNotNull)
    val planted = d.select(col("doc_id"), col("source"),
      concat(lit("hdr1 hdr2 hdr3 hdr4 hdr5 "), col("source"), lit(" "),
        col("text")).as("text"))
    graft.ops.Cleaning.boilerplateRemove(planted, "text", "doc_id",
      "source", lineWords = 6, maxDfPpm = 300000L)
  }
  private val q297Sql: String = """
    WITH d0 AS (SELECT doc_id, source,
            'hdr1 hdr2 hdr3 hdr4 hdr5 ' || source || ' ' || text AS text
          FROM documents WHERE doc_id IS NOT NULL AND text IS NOT NULL
            AND source IS NOT NULL),
    d AS (SELECT doc_id, source, string_split(lower(text), ' ') AS w
          FROM d0),
    idx AS (SELECT doc_id, source, w,
            unnest(range(0, greatest(CAST(ceil(len(w) / 6.0) AS BIGINT), 1)))
              AS i
          FROM d),
    ln AS (SELECT doc_id, source, i AS pos,
            array_to_string(list_slice(w, i * 6 + 1, i * 6 + 6), ' ')
              AS line
          FROM idx),
    dps AS (SELECT source, CAST(count(DISTINCT doc_id) AS BIGINT) AS docs
          FROM d GROUP BY 1),
    bp AS (SELECT ln.source, ln.line
          FROM ln JOIN dps USING (source)
          GROUP BY 1, 2, dps.docs
          HAVING count(DISTINCT doc_id) >= 2
            AND (1000000 * count(DISTINCT doc_id)) // dps.docs > 300000),
    kept AS (SELECT ln.* FROM ln
          LEFT JOIN bp ON ln.source = bp.source AND ln.line = bp.line
          WHERE bp.line IS NULL),
    reb AS (SELECT doc_id,
            string_agg(line, ' ' ORDER BY pos) AS clean_text,
            CAST(count(*) AS BIGINT) AS n_kept
          FROM kept GROUP BY 1),
    tot AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_lines
          FROM ln GROUP BY 1)
    SELECT d.doc_id AS id, d.source AS src,
      coalesce(reb.clean_text, '') AS clean_text, tot.n_lines,
      tot.n_lines - coalesce(reb.n_kept, 0) AS n_dropped
    FROM d JOIN tot USING (doc_id) LEFT JOIN reb USING (doc_id)"""

  // —————————————————————————————— co-occurrence projection (q298)
  // (bipartite supplier↔part incidence projected onto part–part edges
  //  weighted by shared suppliers; every supplier capped to its 32
  //  strongest parts BEFORE the pair join, so the fan-out is bounded
  //  contexts·cap² regardless of hub skew. Top-50 edges, pinned order.)
  val q298Cooccurrence: Q = (s, dir) =>
    Graph.cooccurrenceProjection(Tables.lineitem(s, dir),
      "l_suppkey", "l_partkey", capPerContext = 32, topPairs = 50)
  private val q298Sql: String = """
    WITH inc AS (SELECT l_suppkey AS ctx, l_partkey AS item,
            CAST(count(*) AS BIGINT) AS w
          FROM lineitem WHERE l_suppkey IS NOT NULL
            AND l_partkey IS NOT NULL GROUP BY 1, 2),
    cap AS (SELECT ctx, item FROM
            (SELECT ctx, item, row_number() OVER
               (PARTITION BY ctx ORDER BY w DESC, item ASC) AS rn
             FROM inc) WHERE rn <= 32),
    pr AS (SELECT a.item AS ia, b.item AS ib,
            CAST(count(*) AS BIGINT) AS shared_contexts
          FROM cap a JOIN cap b ON a.ctx = b.ctx AND a.item < b.item
          GROUP BY 1, 2)
    SELECT ia, ib, shared_contexts FROM pr
    ORDER BY shared_contexts DESC, ia ASC, ib ASC LIMIT 50"""

  // —————————————————————————————— embedding outlier gate (q299)
  // (mislabel detection for the labeled embedding table: exact micro
  //  centroid per label, exact BIGINT micro² distances, robust MAD
  //  fence entirely in doubled/quadrupled integer space. One summary
  //  row per label.)
  val q299EmbeddingOutliers: Q = (s, dir) =>
    Similarity.embeddingOutliers(Tables.embeddings(s, dir),
      "vec_id", "embedding", "label", k = 3)
  private val q299Sql: String = """
    WITH x AS (SELECT vec_id AS id, label AS lbl, i - 1 AS dim,
            CAST(round(CAST(e[i] AS DOUBLE) * 1000000) AS BIGINT) AS xm
          FROM (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS e
                FROM embeddings WHERE vec_id IS NOT NULL
                  AND label IS NOT NULL AND embedding IS NOT NULL),
            unnest(range(1, len(e) + 1)) u(i)),
    c AS (SELECT lbl, dim, CAST(sum(xm) // count(*) AS BIGINT) AS cm
          FROM x GROUP BY 1, 2),
    d2 AS (SELECT x.lbl, x.id,
            CAST(sum((xm - cm) * (xm - cm)) AS BIGINT) AS d2
          FROM x JOIN c ON x.lbl = c.lbl AND x.dim = c.dim
          GROUP BY 1, 2),
    f1 AS (SELECT lbl, CAST(count(*) AS BIGINT) AS n,
            CAST(quantile_cont(d2 * 2, 0.5) AS BIGINT) AS m2
          FROM d2 GROUP BY 1),
    f2 AS (SELECT d2.lbl, f1.n, f1.m2,
            CAST(quantile_cont(abs(d2.d2 * 2 - f1.m2) * 2, 0.5) AS BIGINT)
              AS mad4
          FROM d2 JOIN f1 ON d2.lbl = f1.lbl GROUP BY 1, 2, 3)
    SELECT f2.lbl AS label, f2.n, f2.m2, f2.mad4,
      CAST(sum(CASE WHEN abs(d2.d2 * 2 - f2.m2) * 2 > 3 * f2.mad4
        THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
    FROM d2 JOIN f2 ON d2.lbl = f2.lbl
    GROUP BY 1, 2, 3, 4"""

  // —————————————————————————————— time-in-state dwell (q300)
  // (state = event_type until the user's next event; last event per
  //  user has no dwell and is excluded. One lead window + one grouped
  //  aggregate, exact ms, truncating mean.)
  val q300Dwell: Q = (s, dir) =>
    Analytics.dwellTime(Tables.events(s, dir),
      "user_id", "ts", "event_type", "event_id")
  private val q300Sql: String = """
    WITH e AS (SELECT user_id AS k, epoch_us(ts) AS us,
            event_type AS state, event_id AS id
          FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL
            AND event_type IS NOT NULL AND event_id IS NOT NULL),
    sp AS (SELECT state, (lead(us) OVER (PARTITION BY k ORDER BY us, id)
              - us) // 1000 AS dwell_ms
          FROM e)
    SELECT state, CAST(count(*) AS BIGINT) AS n_spells,
      CAST(sum(dwell_ms) AS BIGINT) AS total_ms,
      CAST(sum(dwell_ms) // count(*) AS BIGINT) AS mean_ms,
      CAST(max(dwell_ms) AS BIGINT) AS max_ms
    FROM sp WHERE dwell_ms IS NOT NULL GROUP BY 1"""

  // —————————————————————————————— Fleiss' kappa (q301)
  // (fixed-panel inter-rater reliability: every unit rated by exactly
  //  the modal rater count; off-panel units drop and are counted. The
  //  md5 vote lattice plants ~1/4 forced-agreement units so kappa is
  //  meaningfully positive; ~1/7 of votes are knocked out to exercise
  //  the off-panel drop path.)
  val q301Fleiss: Q = (s, dir) => {
    def h(prefix: String, c: org.apache.spark.sql.Column) =
      graft.functions.HashExpressions.md5Prefix64(concat(lit(prefix), c), 8)
    val units = Tables.events(s, dir)
      .where(col("event_id").isNotNull)
      .select((col("event_id") % 512).as("unit")).distinct()
    val votes = units
      .select(col("unit"), explode(sequence(lit(0), lit(4))).as("rater"))
      .withColumn("ur", concat(col("unit").cast("string"), lit("|"),
        col("rater").cast("string")))
      .where(h("fp|", col("ur")) % 7 =!= 0)
      .select(col("unit"), col("rater"),
        when(h("fa|", col("unit").cast("string")) % 4 === 0,
          h("fl|", col("unit").cast("string")) % 3)
          .otherwise(h("fv|", col("ur")) % 3).as("label"))
    Annotation.fleissKappa(votes, "unit", "rater", "label")
  }
  private val q301Sql: String = """
    WITH units AS (SELECT DISTINCT event_id % 512 AS unit
          FROM events WHERE event_id IS NOT NULL),
    ur AS (SELECT unit, r AS rater,
            CAST(unit AS VARCHAR) || '|' || CAST(r AS VARCHAR) AS ur
          FROM units, unnest(range(0, 5)) t(r)),
    votes AS (SELECT DISTINCT unit, rater,
            CASE WHEN CAST(('0x' || substr(md5('fa|' ||
                CAST(unit AS VARCHAR)), 1, 8)) AS BIGINT) % 4 = 0
              THEN CAST(('0x' || substr(md5('fl|' ||
                CAST(unit AS VARCHAR)), 1, 8)) AS BIGINT) % 3
              ELSE CAST(('0x' || substr(md5('fv|' || ur), 1, 8))
                AS BIGINT) % 3 END AS label
          FROM ur
          WHERE CAST(('0x' || substr(md5('fp|' || ur), 1, 8)) AS BIGINT)
            % 7 <> 0),
    uc AS (SELECT unit, label, CAST(count(*) AS BIGINT) AS nuc
          FROM votes GROUP BY 1, 2),
    um AS (SELECT unit, CAST(sum(nuc) AS BIGINT) AS mu FROM uc GROUP BY 1),
    np AS (SELECT mu AS n_raters FROM
            (SELECT mu, count(*) AS freq FROM um GROUP BY 1)
          ORDER BY freq DESC, mu ASC LIMIT 1),
    kept AS (SELECT uc.* FROM uc JOIN um USING (unit), np
          WHERE um.mu = np.n_raters),
    stot AS (SELECT CAST(count(DISTINCT unit) AS BIGINT) AS n_units,
            sum(CAST(nuc AS HUGEINT) * nuc) AS s FROM kept),
    ctot AS (SELECT CAST(count(*) AS BIGINT) AS n_categories,
            sum(CAST(cj AS HUGEINT) * cj) AS c2 FROM
            (SELECT label, CAST(sum(nuc) AS BIGINT) AS cj
             FROM kept GROUP BY 1)),
    dropped AS (SELECT CAST(count(*) AS BIGINT) AS n_units_dropped
          FROM um, np WHERE um.mu <> np.n_raters),
    f AS (SELECT n_units, n_raters, n_categories, n_units_dropped,
            CAST(n_units AS HUGEINT) * n_raters AS nn, s, c2
          FROM stot, ctot, dropped, np)
    SELECT n_units, n_raters, n_categories, n_units_dropped,
      CASE WHEN (nn * nn * (n_raters - 1) - c2 * (n_raters - 1)) = 0
          OR n_raters < 2 THEN NULL
        ELSE CAST((1000000 * ((s - nn) * nn - c2 * (n_raters - 1)))
          // (nn * nn * (n_raters - 1) - c2 * (n_raters - 1)) AS BIGINT)
        END AS kappa_ppm
    FROM f"""

  // —————————————————————————————— Heaps'-law vocab growth (q302)
  // (vocabulary saturation audit: distinct-token count at power-of-2
  //  document checkpoints in doc_id order, via each token's
  //  first-occurrence rank — one pass, no per-checkpoint rescans.)
  val q302VocabGrowth: Q = (s, dir) =>
    TextOps.vocabGrowth(Tables.documents(s, dir), "text", "doc_id")
  private val q302Sql: String = """
    WITH docs AS (SELECT doc_id AS id, text FROM documents
          WHERE doc_id IS NOT NULL AND text IS NOT NULL),
    seq AS (SELECT id,
            CAST(len(list_filter(string_split(lower(text), ' '),
              x -> len(x) > 0)) AS BIGINT) AS n_tok,
            CAST(row_number() OVER (ORDER BY id) AS BIGINT) AS doc_seq
          FROM docs),
    fs AS (SELECT w, min(doc_seq) AS first_seq FROM
            (SELECT s2.doc_seq, u.w
             FROM docs d JOIN seq s2 ON d.id = s2.id,
               unnest(string_split(lower(d.text), ' ')) u(w)
             WHERE len(u.w) > 0)
          GROUP BY 1),
    nd AS (SELECT max(doc_seq) AS n FROM seq),
    cps AS (SELECT DISTINCT cp FROM
            (SELECT CAST(1 << i AS BIGINT) AS cp
             FROM range(0, 40) t(i), nd WHERE (1 << i) < nd.n
             UNION ALL SELECT n FROM nd)),
    vocab AS (SELECT cp, CAST(count(*) AS BIGINT) AS vocab
          FROM fs JOIN cps ON fs.first_seq <= cps.cp GROUP BY 1),
    toks AS (SELECT cp, CAST(sum(n_tok) AS BIGINT) AS tokens
          FROM seq JOIN cps ON seq.doc_seq <= cps.cp GROUP BY 1)
    SELECT toks.cp AS checkpoint_docs, toks.tokens,
      COALESCE(vocab.vocab, 0) AS vocab,
      CASE WHEN toks.tokens > 0
        THEN CAST((1000000 * COALESCE(vocab.vocab, 0)) // toks.tokens
          AS BIGINT) END AS vocab_per_mtok
    FROM toks LEFT JOIN vocab ON toks.cp = vocab.cp"""

  // —————————————————————————————— Good–Turing / Chao1 (q303)
  // (per-source unseen-vocabulary estimators: coverage 1 − N1/N and
  //  the Chao1 richness lower bound V + N1²/(2·N2), exact integers
  //  over the frequency-of-frequencies table.)
  val q303VocabCoverage: Q = (s, dir) =>
    TextOps.vocabCoverage(Tables.documents(s, dir), "text", "source")
  private val q303Sql: String = """
    WITH tok AS (SELECT d.source, u.w
          FROM documents d, unnest(string_split(lower(d.text), ' ')) u(w)
          WHERE d.source IS NOT NULL AND d.text IS NOT NULL
            AND len(u.w) > 0),
    tf AS (SELECT source, w, CAST(count(*) AS BIGINT) AS f
          FROM tok GROUP BY 1, 2),
    agg AS (SELECT source, CAST(count(*) AS BIGINT) AS vocab,
            CAST(sum(f) AS BIGINT) AS tokens,
            CAST(sum(CASE WHEN f = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n1,
            CAST(sum(CASE WHEN f = 2 THEN 1 ELSE 0 END) AS BIGINT) AS n2
          FROM tf GROUP BY 1)
    SELECT source, vocab, tokens, n1, n2,
      1000000 - CAST((1000000 * n1) // tokens AS BIGINT) AS coverage_ppm,
      CASE WHEN n2 > 0 THEN CAST(vocab + (n1 * n1) // (2 * n2) AS BIGINT)
        END AS chao1
    FROM agg"""

  // —————————————————————————————— group-aware k-fold audit (q304)
  // (leakage-safe CV folds: fold is md5(seed|user) mod 7, so every
  //  event of a user shares a fold; the released artifact is the
  //  per-fold balance audit, not the data-sized assignment.)
  val q304KFold: Q = (s, dir) =>
    Sampling.kFoldAudit(Tables.events(s, dir), "user_id", k = 7)
  private val q304Sql: String = """
    WITH pg AS (SELECT user_id AS g, CAST(count(*) AS BIGINT) AS rows_
          FROM events WHERE user_id IS NOT NULL GROUP BY 1),
    f AS (SELECT CAST(('0x' || substr(md5('fold|1|' ||
            CAST(g AS VARCHAR)), 1, 8)) AS BIGINT) % 7 AS fold, rows_
          FROM pg),
    t AS (SELECT sum(rows_) AS tt FROM f)
    SELECT fold, CAST(sum(rows_) AS BIGINT) AS n_rows,
      CAST(count(*) AS BIGINT) AS n_groups,
      CAST((1000000 * sum(rows_)) // (SELECT tt FROM t) AS BIGINT)
        AS rows_share_ppm
    FROM f GROUP BY 1"""

  // —————————————————————————————— Markov stationary dist (q305)
  // (long-run event-type occupancy: row-normalized ppm transition
  //  matrix from per-user consecutive pairs, dangling self-loop patch,
  //  5 unrolled integer power-iteration rounds — one truncating
  //  div 1e6 per entry per round, pinned in both engines.)
  val q305MarkovStationary: Q = (s, dir) =>
    Analytics.markovStationary(Tables.events(s, dir),
      "user_id", "ts", "event_type", "event_id", iters = 5)
  private val q305Sql: String = """
    WITH ev AS (SELECT user_id AS k, epoch_us(ts) AS us,
            event_type AS st, event_id AS id
          FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL
            AND event_type IS NOT NULL AND event_id IS NOT NULL),
    pr AS (SELECT st AS a, lead(st) OVER
            (PARTITION BY k ORDER BY us, id) AS b FROM ev),
    cnt AS (SELECT a, b, CAST(count(*) AS BIGINT) AS n
          FROM pr WHERE b IS NOT NULL GROUP BY 1, 2),
    states AS (SELECT DISTINCT s FROM
            (SELECT a AS s FROM cnt UNION ALL SELECT b FROM cnt)),
    dang AS (SELECT s AS a, s AS b, CAST(1 AS BIGINT) AS n FROM states
          WHERE s NOT IN (SELECT DISTINCT a FROM cnt)),
    full_ AS (SELECT * FROM cnt UNION ALL SELECT * FROM dang),
    ot AS (SELECT a, sum(n) AS tot FROM full_ GROUP BY 1),
    p AS (SELECT full_.a, full_.b,
            CAST((1000000 * full_.n) // ot.tot AS BIGINT) AS p_ppm
          FROM full_ JOIN ot ON full_.a = ot.a),
    ns AS (SELECT count(*) AS n FROM states),
    pi0 AS (SELECT s, CAST(1000000 // (SELECT n FROM ns) AS BIGINT)
            AS pi FROM states),
    pi1 AS (SELECT p.b AS s, CAST(sum(pi0.pi * p.p_ppm) // 1000000
            AS BIGINT) AS pi FROM p JOIN pi0 ON p.a = pi0.s GROUP BY 1),
    pi2 AS (SELECT p.b AS s, CAST(sum(pi1.pi * p.p_ppm) // 1000000
            AS BIGINT) AS pi FROM p JOIN pi1 ON p.a = pi1.s GROUP BY 1),
    pi3 AS (SELECT p.b AS s, CAST(sum(pi2.pi * p.p_ppm) // 1000000
            AS BIGINT) AS pi FROM p JOIN pi2 ON p.a = pi2.s GROUP BY 1),
    pi4 AS (SELECT p.b AS s, CAST(sum(pi3.pi * p.p_ppm) // 1000000
            AS BIGINT) AS pi FROM p JOIN pi3 ON p.a = pi3.s GROUP BY 1),
    pi5 AS (SELECT p.b AS s, CAST(sum(pi4.pi * p.p_ppm) // 1000000
            AS BIGINT) AS pi FROM p JOIN pi4 ON p.a = pi4.s GROUP BY 1)
    SELECT states.s AS event_type, COALESCE(pi5.pi, 0) AS pi_ppm
    FROM states LEFT JOIN pi5 ON states.s = pi5.s"""

  // —————————————————————————————— ROC curve table (q306)
  // (the operating-point sweep AUC collapses: one row per distinct
  //  score with exact confusion counts; cumulative window runs on the
  //  distinct-score frame only. Score/label from the md5 lattice with
  //  label probability increasing in score, so the curve bows above
  //  the diagonal.)
  val q306RocCurve: Q = (s, dir) => {
    def h(prefix: String, c: org.apache.spark.sql.Column) =
      graft.functions.HashExpressions.md5Prefix64(concat(lit(prefix), c), 8)
    val scored = Tables.events(s, dir)
      .where(col("event_id").isNotNull)
      .select(col("event_id").cast("string").as("sid"))
      .select(
        (h("rs|", col("sid")) % 1000000).as("score"),
        when((h("rl|", col("sid")) % 1500000) <
          (h("rs|", col("sid")) % 1000000) + 250000, 1L)
          .otherwise(0L).as("y"))
    Evaluation.rocCurve(scored, "score", "y")
  }
  private val q306Sql: String = """
    WITH sc AS (SELECT
            CAST(('0x' || substr(md5('rs|' || CAST(event_id AS VARCHAR)),
              1, 8)) AS BIGINT) % 1000000 AS score,
            CASE WHEN CAST(('0x' || substr(md5('rl|' ||
                CAST(event_id AS VARCHAR)), 1, 8)) AS BIGINT) % 1500000
              < CAST(('0x' || substr(md5('rs|' ||
                CAST(event_id AS VARCHAR)), 1, 8)) AS BIGINT) % 1000000
                + 250000
              THEN 1 ELSE 0 END AS y
          FROM events WHERE event_id IS NOT NULL),
    bs AS (SELECT score, CAST(sum(y) AS BIGINT) AS pos,
            CAST(sum(1 - y) AS BIGINT) AS neg FROM sc GROUP BY 1),
    cum AS (SELECT score,
            CAST(sum(pos) OVER w AS BIGINT) AS tp,
            CAST(sum(neg) OVER w AS BIGINT) AS fp
          FROM bs WINDOW w AS (ORDER BY score DESC
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
    t AS (SELECT sum(pos) AS p, sum(neg) AS n FROM bs)
    SELECT score AS threshold, tp, fp,
      CAST((SELECT p FROM t) - tp AS BIGINT) AS fn,
      CAST((SELECT n FROM t) - fp AS BIGINT) AS tn,
      CASE WHEN (SELECT p FROM t) > 0
        THEN CAST((1000000 * tp) // (SELECT p FROM t) AS BIGINT)
        END AS tpr_ppm,
      CASE WHEN (SELECT n FROM t) > 0
        THEN CAST((1000000 * fp) // (SELECT n FROM t) AS BIGINT)
        END AS fpr_ppm
    FROM cum"""

  // —————————————————————————————— Wald SPRT (q307)
  // (sequential A/B stop: integer LLR walk with micro-nat constant
  //  increments — the only floats are four scalar lns rounded to
  //  micro BEFORE the walk. Experiments are event_type; the success
  //  lattice gives ~3% or ~9% rates by event_type parity, so both
  //  H0- and H1-accepting experiments exist. p0=0.05, p1=0.08,
  //  alpha=beta=0.05.)
  val q307Sprt: Q = (s, dir) => {
    def h(prefix: String, c: org.apache.spark.sql.Column) =
      graft.functions.HashExpressions.md5Prefix64(concat(lit(prefix), c), 8)
    val obs = Tables.events(s, dir)
      .where(col("event_id").isNotNull && col("ts").isNotNull &&
        col("event_type").isNotNull)
      .select(col("event_type"), col("ts"), col("event_id"),
        (h("sc|", col("event_id").cast("string")) % 1000 <
          lit(30) + lit(60) * (h("se|", col("event_type")) % 2))
          .as("succ"))
    Analytics.sprtDecision(obs, "event_type", "ts", "event_id", "succ",
      p0 = 0.05, p1 = 0.08)
  }
  private val q307Sql: String = """
    WITH c AS (SELECT
            CAST(round(1000000 * ln(0.08 / 0.05)) AS BIGINT) AS llrs,
            CAST(round(1000000 * ln((1 - 0.08) / (1 - 0.05))) AS BIGINT)
              AS llrf,
            CAST(round(1000000 * ln((1 - 0.05) / 0.05)) AS BIGINT) AS ba,
            CAST(round(1000000 * ln(0.05 / (1 - 0.05))) AS BIGINT) AS bb),
    o AS (SELECT event_type AS e, epoch_us(ts) AS us, event_id AS id,
            CAST(('0x' || substr(md5('sc|' || CAST(event_id AS VARCHAR)),
              1, 8)) AS BIGINT) % 1000 <
            30 + 60 * (CAST(('0x' || substr(md5('se|' || event_type),
              1, 8)) AS BIGINT) % 2) AS succ
          FROM events WHERE event_id IS NOT NULL AND ts IS NOT NULL
            AND event_type IS NOT NULL),
    wlk AS (SELECT e, succ,
            CAST(row_number() OVER w AS BIGINT) AS seq,
            sum(CASE WHEN succ THEN (SELECT llrs FROM c)
              ELSE (SELECT llrf FROM c) END) OVER w AS llr
          FROM o WINDOW w AS (PARTITION BY e ORDER BY us, id
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
    agg AS (SELECT e, CAST(count(*) AS BIGINT) AS n_obs,
            CAST(sum(CASE WHEN succ THEN 1 ELSE 0 END) AS BIGINT)
              AS n_success,
            min(CASE WHEN llr >= (SELECT ba FROM c) THEN seq END) AS h1,
            min(CASE WHEN llr <= (SELECT bb FROM c) THEN seq END) AS h0,
            max_by(llr, seq) AS fin
          FROM wlk GROUP BY 1)
    SELECT e AS event_type, n_obs, n_success,
      CASE WHEN h1 IS NOT NULL AND (h0 IS NULL OR h1 <= h0)
          THEN 'accept_h1'
        WHEN h0 IS NOT NULL THEN 'accept_h0'
        ELSE 'continue' END AS decision,
      CAST(least(h1, h0) AS BIGINT) AS n_at_decision,
      CAST(fin AS BIGINT) AS final_llr_micro
    FROM agg"""

  // —————————————————————————————— curriculum ordering (q308)
  // (easy-to-hard training schedule: value-aligned difficulty stages
  //  from the distinct-value cumulative frame, md5 shuffle within
  //  stage via (bucket, pos) — global order is (stage, bucket, pos)
  //  by construction, no single-reducer sort.)
  val q308Curriculum: Q = (s, dir) =>
    Sampling.curriculumOrder(
      Tables.documents(s, dir).where(col("n_chars").isNotNull),
      "doc_id", "n_chars", nStages = 4, nBuckets = 8)
  private val q308Sql: String = """
    WITH base AS (SELECT doc_id AS id, CAST(n_chars AS BIGINT) AS diff
          FROM documents WHERE doc_id IS NOT NULL
            AND n_chars IS NOT NULL),
    bv AS (SELECT diff, CAST(count(*) AS BIGINT) AS cnt
          FROM base GROUP BY 1),
    cum AS (SELECT diff, cnt, sum(cnt) OVER (ORDER BY diff
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_end
          FROM bv),
    t AS (SELECT sum(cnt) AS tt FROM bv),
    st AS (SELECT diff, least(3, CAST((4 * (cum_end - cnt))
            // (SELECT tt FROM t) AS BIGINT)) AS stage FROM cum),
    b AS (SELECT base.id, base.diff, st.stage,
            CAST(('0x' || substr(md5('cur|1|' || CAST(base.id AS VARCHAR)),
              1, 8)) AS BIGINT) % 8 AS bucket
          FROM base JOIN st ON base.diff = st.diff)
    SELECT id, diff, stage, bucket,
      CAST(row_number() OVER (PARTITION BY stage, bucket
        ORDER BY md5('pos|1|' || CAST(id AS VARCHAR)), id) AS BIGINT)
        AS pos
    FROM b"""

  // —————————————————————————————— Benjamini–Hochberg FDR (q309)
  // (step-up multiple-testing gate over a planted p-value lattice:
  //  ~1/8 of units get p/100 so a discovery set exists; exact integer
  //  comparison p·m ≤ q·i.)
  val q309BhFdr: Q = (s, dir) => {
    def h(prefix: String, c: org.apache.spark.sql.Column) =
      graft.functions.HashExpressions.md5Prefix64(concat(lit(prefix), c), 8)
    val tests = Tables.events(s, dir)
      .where(col("event_id").isNotNull)
      .select((col("event_id") % 256).as("unit")).distinct()
      .select(col("unit"),
        when(h("bq|", col("unit").cast("string")) % 8 === 0,
          expr("null")).otherwise(lit(1)).as("_plant"),
        (h("bp|", col("unit").cast("string")) % 1000000).as("p_raw"))
      .select(col("unit"),
        when(col("_plant").isNull, expr("p_raw div 100"))
          .otherwise(col("p_raw")).as("p_ppm"))
    Analytics.bhFdr(tests, "unit", "p_ppm", qPpm = 50000L)
  }
  private val q309Sql: String = """
    WITH u AS (SELECT DISTINCT event_id % 256 AS unit FROM events
          WHERE event_id IS NOT NULL),
    t AS (SELECT unit,
            CASE WHEN CAST(('0x' || substr(md5('bq|' ||
                CAST(unit AS VARCHAR)), 1, 8)) AS BIGINT) % 8 = 0
              THEN (CAST(('0x' || substr(md5('bp|' ||
                CAST(unit AS VARCHAR)), 1, 8)) AS BIGINT) % 1000000) // 100
              ELSE CAST(('0x' || substr(md5('bp|' ||
                CAST(unit AS VARCHAR)), 1, 8)) AS BIGINT) % 1000000
              END AS p_ppm
          FROM u),
    m AS (SELECT count(*) AS m FROM t),
    rk AS (SELECT unit, p_ppm,
            CAST(row_number() OVER (ORDER BY p_ppm, unit) AS BIGINT)
              AS rank,
            p_ppm * (SELECT m FROM m) <= 50000 * CAST(row_number()
              OVER (ORDER BY p_ppm, unit) AS BIGINT) AS pass
          FROM t),
    cut AS (SELECT max(CASE WHEN pass THEN rank END) AS c FROM rk)
    SELECT unit, p_ppm, rank,
      (SELECT c FROM cut) IS NOT NULL AND rank <= (SELECT c FROM cut)
        AS rejected
    FROM rk"""

  // —————————————————————————————— null co-occurrence audit (q310)
  // (one-pass 2×2 null-contingency per column pair over md5-derived
  //  null patterns: c's nulls are a subset of a's → positive assoc,
  //  b independent.)
  val q310NullCooccur: Q = (s, dir) => {
    def h(prefix: String, c: org.apache.spark.sql.Column) =
      graft.functions.HashExpressions.md5Prefix64(concat(lit(prefix), c), 8)
    val base = Tables.events(s, dir)
      .where(col("event_id").isNotNull)
      .select(
        when(h("na|", col("event_id").cast("string")) % 4 === 0,
          lit(null).cast("long")).otherwise(col("user_id")).as("a"),
        when(h("nb|", col("event_id").cast("string")) % 4 < 2,
          lit(null).cast("string")).otherwise(col("event_type")).as("b"),
        when(h("na|", col("event_id").cast("string")) % 8 === 0,
          lit(null).cast("double")).otherwise(col("value")).as("c"))
    Analytics.nullCooccurrence(base, Seq("a", "b", "c"))
  }
  private val q310Sql: String = """
    WITH base AS (SELECT
            CASE WHEN CAST(('0x' || substr(md5('na|' ||
                CAST(event_id AS VARCHAR)), 1, 8)) AS BIGINT) % 4 = 0
              THEN NULL ELSE user_id END AS a,
            CASE WHEN CAST(('0x' || substr(md5('nb|' ||
                CAST(event_id AS VARCHAR)), 1, 8)) AS BIGINT) % 4 < 2
              THEN NULL ELSE event_type END AS b,
            CASE WHEN CAST(('0x' || substr(md5('na|' ||
                CAST(event_id AS VARCHAR)), 1, 8)) AS BIGINT) % 8 = 0
              THEN NULL ELSE value END AS c
          FROM events WHERE event_id IS NOT NULL),
    agg AS (SELECT CAST(count(*) AS BIGINT) AS n,
            CAST(sum(CASE WHEN a IS NULL AND b IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS ab_both,
            CAST(sum(CASE WHEN a IS NULL AND b IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS ab_a,
            CAST(sum(CASE WHEN a IS NOT NULL AND b IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS ab_b,
            CAST(sum(CASE WHEN a IS NULL AND c IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS ac_both,
            CAST(sum(CASE WHEN a IS NULL AND c IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS ac_a,
            CAST(sum(CASE WHEN a IS NOT NULL AND c IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS ac_b,
            CAST(sum(CASE WHEN b IS NULL AND c IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS bc_both,
            CAST(sum(CASE WHEN b IS NULL AND c IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS bc_a,
            CAST(sum(CASE WHEN b IS NOT NULL AND c IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS bc_b
          FROM base),
    rows_ AS (
      SELECT 'a' AS col_a, 'b' AS col_b, n, ab_both AS n_both_null,
        ab_a AS n_a_only, ab_b AS n_b_only FROM agg
      UNION ALL SELECT 'a', 'c', n, ac_both, ac_a, ac_b FROM agg
      UNION ALL SELECT 'b', 'c', n, bc_both, bc_a, bc_b FROM agg)
    SELECT col_a, col_b, n, n_both_null, n_a_only, n_b_only,
      n_both_null + n_a_only AS n_a_null,
      n_both_null + n_b_only AS n_b_null,
      n * n_both_null - (n_both_null + n_a_only) *
        (n_both_null + n_b_only) AS assoc_num
    FROM rows_"""

  // —————————————————————————————— entropy rate (q311)
  // (H(next|current) over per-user event-type transitions; one pinned
  //  micro-nat ln per S² cell, exact integer weighting.)
  val q311EntropyRate: Q = (s, dir) =>
    Analytics.entropyRate(Tables.events(s, dir),
      "user_id", "ts", "event_type", "event_id")
  private val q311Sql: String = """
    WITH ev AS (SELECT user_id AS k, epoch_us(ts) AS us,
            event_type AS st, event_id AS id
          FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL
            AND event_type IS NOT NULL AND event_id IS NOT NULL),
    pr AS (SELECT st AS a, lead(st) OVER
            (PARTITION BY k ORDER BY us, id) AS b FROM ev),
    cells AS (SELECT a, b, CAST(count(*) AS BIGINT) AS nab
          FROM pr WHERE b IS NOT NULL GROUP BY 1, 2),
    rt AS (SELECT a, sum(nab) AS na FROM cells GROUP BY 1),
    t AS (SELECT cells.nab,
            CAST(round(1000000 * ln(CAST(cells.nab AS DOUBLE) / rt.na))
              AS BIGINT) AS t
          FROM cells JOIN rt ON cells.a = rt.a)
    SELECT CAST(sum(nab) AS BIGINT) AS n_transitions,
      CAST((-(sum(nab * t))) // sum(nab) AS BIGINT)
        AS entropy_rate_micro
    FROM t"""

  // —————————————————————————————— Hill tail index (q312)
  // (heavy-tail exponent of the event value distribution from the top
  //  101 order statistics — TakeOrdered, micro-pinned lns.)
  val q312HillTail: Q = (s, dir) =>
    Analytics.hillTailIndex(Tables.events(s, dir),
      "value", "event_id", k = 100)
  private val q312Sql: String = """
    WITH v AS (SELECT CAST(round(value * 1000000) AS BIGINT) AS vm,
            event_id AS id
          FROM events WHERE value IS NOT NULL AND value > 0
            AND event_id IS NOT NULL),
    top_ AS (SELECT vm, row_number() OVER (ORDER BY vm DESC, id ASC)
            AS r FROM v ORDER BY vm DESC, id ASC LIMIT 101),
    xk AS (SELECT vm AS x_k1 FROM top_ WHERE r = 101),
    t AS (SELECT CAST(round(1000000 * ln(CAST(top_.vm AS DOUBLE)
            / xk.x_k1)) AS BIGINT) AS t, xk.x_k1
          FROM top_, xk WHERE top_.r <= 100)
    SELECT CAST(count(*) AS BIGINT) AS k, x_k1,
      CAST(sum(t) // count(*) AS BIGINT) AS hill_inv_micro,
      CASE WHEN sum(t) // count(*) > 0
        THEN CAST(1000000000000 // (sum(t) // count(*)) AS BIGINT)
        END AS alpha_micro
    FROM t GROUP BY x_k1"""

  // —————————————————————————————— HHI concentration (q313)
  // (per event_type: is activity spread across users or owned by a
  //  few — ppm shares, HHI, effective member count.)
  val q313Hhi: Q = (s, dir) =>
    Analytics.hhiConcentration(Tables.events(s, dir),
      "event_type", "user_id")
  private val q313Sql: String = """
    WITH m AS (SELECT event_type AS g, user_id AS mb,
            CAST(count(*) AS BIGINT) AS n
          FROM events WHERE event_type IS NOT NULL
            AND user_id IS NOT NULL GROUP BY 1, 2),
    tt AS (SELECT g, sum(n) AS tot, CAST(count(*) AS BIGINT)
            AS n_members FROM m GROUP BY 1),
    sh AS (SELECT m.g, tt.n_members,
            CAST((1000000 * m.n) // tt.tot AS BIGINT) AS s
          FROM m JOIN tt ON m.g = tt.g)
    SELECT g AS event_type, max(n_members) AS n_members,
      CAST(sum(s * s) // 1000000 AS BIGINT) AS hhi_ppm,
      CASE WHEN sum(s * s) // 1000000 > 0
        THEN CAST(1000000000 // (sum(s * s) // 1000000) AS BIGINT)
        END AS effective_n_milli
    FROM sh GROUP BY 1"""

  // —————————————————————————————— SRM guard (q314)
  // (sample-ratio-mismatch χ² per event_type experiment on a 50/50
  //  design; the md5 bucket lattice biases odd-hash experiments to
  //  ~80/20 so both flag outcomes exist.)
  val q314Srm: Q = (s, dir) => {
    def h(prefix: String, c: org.apache.spark.sql.Column) =
      graft.functions.HashExpressions.md5Prefix64(concat(lit(prefix), c), 8)
    val assigned = Tables.events(s, dir)
      .where(col("event_type").isNotNull && col("user_id").isNotNull)
      .select(col("event_type"),
        when(h("srm|", col("user_id").cast("string")) % 100 <
          lit(50) + lit(30) * (h("sb|", col("event_type")) % 2),
          lit("a")).otherwise(lit("b")).as("bucket"))
    Analytics.srmCheck(assigned, "event_type", "bucket",
      Seq("a" -> 50, "b" -> 50))
  }
  private val q314Sql: String = """
    WITH o AS (SELECT event_type AS e,
            CASE WHEN CAST(('0x' || substr(md5('srm|' ||
                CAST(user_id AS VARCHAR)), 1, 8)) AS BIGINT) % 100 <
              50 + 30 * (CAST(('0x' || substr(md5('sb|' || event_type),
                1, 8)) AS BIGINT) % 2)
              THEN 'a' ELSE 'b' END AS bucket,
            CAST(count(*) AS BIGINT) AS o
          FROM events WHERE event_type IS NOT NULL
            AND user_id IS NOT NULL GROUP BY 1, 2),
    n AS (SELECT e, sum(o) AS n FROM o GROUP BY 1),
    x AS (SELECT o.e, o.o, n.n, (n.n * 50) // 100 AS e_
          FROM o JOIN n ON o.e = n.e WHERE (n.n * 50) // 100 > 0)
    SELECT e AS event_type, CAST(max(n) AS BIGINT) AS n,
      CAST(count(*) AS BIGINT) AS n_buckets,
      CAST(sum(((o - e_) * (o - e_) * 1000) // e_) AS BIGINT)
        AS chi2_milli,
      CAST(sum(((o - e_) * (o - e_) * 1000) // e_) AS BIGINT) > 3841
        AS srm_flag
    FROM x GROUP BY 1"""

  // —————————————————————————————— Mann–Whitney U (q315)
  // (exact doubled-midrank U on the distinct-value frame: do
  //  even-doc_id documents stochastically dominate odd ones in
  //  n_chars? CLES in ppm, no normal approximation.)
  val q315MannWhitney: Q = (s, dir) =>
    Analytics.mannWhitneyU(
      Tables.documents(s, dir)
        .where(col("doc_id").isNotNull && col("n_chars").isNotNull)
        .select(col("n_chars").as("v"), (col("doc_id") % 2 === 0).as("g")),
      "v", "g")
  private val q315Sql: String = """
    WITH base AS (SELECT CAST(n_chars AS BIGINT) AS v,
            doc_id % 2 = 0 AS g1 FROM documents
          WHERE doc_id IS NOT NULL AND n_chars IS NOT NULL),
    bv AS (SELECT v,
            CAST(sum(CASE WHEN g1 THEN 1 ELSE 0 END) AS BIGINT) AS n1v,
            CAST(sum(CASE WHEN g1 THEN 0 ELSE 1 END) AS BIGINT) AS n2v
          FROM base GROUP BY 1),
    mid AS (SELECT n1v, n2v,
            2 * (sum(n1v + n2v) OVER (ORDER BY v
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
              - n1v - n2v) + n1v + n2v + 1 AS mid2
          FROM bv),
    agg AS (SELECT CAST(sum(n1v) AS BIGINT) AS n1,
            CAST(sum(n2v) AS BIGINT) AS n2,
            CAST(sum(n1v * mid2) AS BIGINT) AS r1d FROM mid)
    SELECT n1, n2,
      r1d - n1 * (n1 + 1) AS u1_doubled,
      2 * n1 * n2 - (r1d - n1 * (n1 + 1)) AS u2_doubled,
      CASE WHEN n1 > 0 AND n2 > 0
        THEN CAST((1000000 * (r1d - n1 * (n1 + 1))) // (2 * n1 * n2)
          AS BIGINT) END AS cles_ppm
    FROM agg"""

  // —————————————————————————————— Jensen–Shannon divergence (q316)
  // (pairwise corpus-language distance between five sources: shared
  //  vocabulary joined, absent-token mass closed-form ln 2; halves
  //  clamped at 0 before the truncating div so Spark's trunc and
  //  DuckDB's floor cannot diverge on rounding-negative halves.)
  val q316JsDivergence: Q = (s, dir) =>
    TextOps.jsDivergence(
      Tables.documents(s, dir)
        .where(col("source").isin("src0", "src1", "src2", "src3", "src4")),
      "text", "source")
  private val q316Sql: String = """
    WITH tf AS (SELECT d.source AS src, u.w,
            CAST(count(*) AS BIGINT) AS c
          FROM documents d,
            unnest(string_split(lower(d.text), ' ')) u(w)
          WHERE d.source IN ('src0','src1','src2','src3','src4')
            AND d.text IS NOT NULL AND len(u.w) > 0
          GROUP BY 1, 2),
    tot AS (SELECT src, sum(c) AS t FROM tf GROUP BY 1),
    sh AS (SELECT a.src AS sa, b.src AS sb, a.c AS pc, b.c AS qc,
            CAST(a.c AS HUGEINT) * tb.t AS pq,
            CAST(b.c AS HUGEINT) * ta.t AS qp
          FROM tf a JOIN tf b ON a.w = b.w AND a.src < b.src
            JOIN tot ta ON ta.src = a.src
            JOIN tot tb ON tb.src = b.src),
    tm AS (SELECT sa, sb, pc, qc,
            CAST(round(1000000 * ln(2.0 * CAST(pq AS DOUBLE)
              / CAST(pq + qp AS DOUBLE))) AS BIGINT) AS tp,
            CAST(round(1000000 * ln(2.0 * CAST(qp AS DOUBLE)
              / CAST(pq + qp AS DOUBLE))) AS BIGINT) AS tq
          FROM sh),
    ag AS (SELECT sa, sb,
            sum(CAST(pc AS HUGEINT) * tp) AS sp,
            sum(CAST(qc AS HUGEINT) * tq) AS sq,
            CAST(sum(pc) AS BIGINT) AS shared_p,
            CAST(sum(qc) AS BIGINT) AS shared_q,
            CAST(count(*) AS BIGINT) AS n_shared_tokens
          FROM tm GROUP BY 1, 2),
    pr AS (SELECT ta.src AS sa, tb.src AS sb, ta.t AS pt, tb.t AS qt
          FROM tot ta, tot tb WHERE ta.src < tb.src)
    SELECT pr.sa AS source_a, pr.sb AS source_b,
      COALESCE(ag.n_shared_tokens, 0) AS n_shared_tokens,
      CAST(greatest(CAST(0 AS HUGEINT), COALESCE(ag.sp, 0)
          + CAST(pr.pt - COALESCE(ag.shared_p, 0) AS HUGEINT) * 693147)
        // (2 * CAST(pr.pt AS HUGEINT))
      + greatest(CAST(0 AS HUGEINT), COALESCE(ag.sq, 0)
          + CAST(pr.qt - COALESCE(ag.shared_q, 0) AS HUGEINT) * 693147)
        // (2 * CAST(pr.qt AS HUGEINT)) AS BIGINT) AS js_micro
    FROM pr LEFT JOIN ag ON pr.sa = ag.sa AND pr.sb = ag.sb"""

  // —————————————————————————————— McNemar paired test (q317)
  // (two heuristic "models" predicting lang = 'en' on the same
  //  documents; only the discordant cells drive the statistic.)
  val q317Mcnemar: Q = (s, dir) =>
    Evaluation.mcnemar(
      Tables.documents(s, dir)
        .where(col("lang").isNotNull && col("n_chars").isNotNull &&
          col("doc_id").isNotNull)
        .select(
          ((col("lang") === "en") === (col("n_chars") % 5 > 0)).as("a_ok"),
          ((col("lang") === "en") === (col("doc_id") % 3 > 0)).as("b_ok")),
      "a_ok", "b_ok")
  private val q317Sql: String = """
    WITH p AS (SELECT (lang = 'en') = (n_chars % 5 > 0) AS a_ok,
            (lang = 'en') = (doc_id % 3 > 0) AS b_ok
          FROM documents WHERE lang IS NOT NULL
            AND n_chars IS NOT NULL AND doc_id IS NOT NULL),
    agg AS (SELECT CAST(count(*) AS BIGINT) AS n,
          CAST(sum(CASE WHEN a_ok AND NOT b_ok THEN 1 ELSE 0 END)
            AS BIGINT) AS b,
          CAST(sum(CASE WHEN NOT a_ok AND b_ok THEN 1 ELSE 0 END)
            AS BIGINT) AS c
          FROM p)
    SELECT n, b, c,
      CASE WHEN b + c > 0
        THEN CAST(((b - c) * (b - c) * 1000) // (b + c) AS BIGINT)
        END AS chi2_milli
    FROM agg"""

  // —————————————————————————————— Cochran's Q (q318)
  // (three divisibility "models" vote per document; m2 abstains on
  //  odd doc_ids so the incomplete-item drop path is exercised.)
  val q318CochranQ: Q = (s, dir) => {
    val d = Tables.documents(s, dir)
      .where(col("doc_id").isNotNull && col("n_chars").isNotNull)
    val votes = d.select(col("doc_id").as("item"), lit("m0").as("mdl"),
        (col("n_chars") % 2 === 0).cast("long").as("ok"))
      .unionByName(d.select(col("doc_id").as("item"), lit("m1").as("mdl"),
        (col("n_chars") % 3 === 0).cast("long").as("ok")))
      .unionByName(d.where(col("doc_id") % 2 === 0)
        .select(col("doc_id").as("item"), lit("m2").as("mdl"),
          (col("n_chars") % 5 === 0).cast("long").as("ok")))
    Evaluation.cochranQ(votes, "item", "mdl", "ok")
  }
  private val q318Sql: String = """
    WITH v AS (
      SELECT doc_id AS item, 'm0' AS mdl,
          CASE WHEN n_chars % 2 = 0 THEN 1 ELSE 0 END AS ok
        FROM documents WHERE doc_id IS NOT NULL AND n_chars IS NOT NULL
      UNION ALL
      SELECT doc_id, 'm1', CASE WHEN n_chars % 3 = 0 THEN 1 ELSE 0 END
        FROM documents WHERE doc_id IS NOT NULL AND n_chars IS NOT NULL
      UNION ALL
      SELECT doc_id, 'm2', CASE WHEN n_chars % 5 = 0 THEN 1 ELSE 0 END
        FROM documents WHERE doc_id IS NOT NULL AND n_chars IS NOT NULL
          AND doc_id % 2 = 0),
    per AS (SELECT item, CAST(count(*) AS BIGINT) AS n_mdl,
            CAST(sum(ok) AS BIGINT) AS ri FROM v GROUP BY 1),
    comp AS (SELECT * FROM per WHERE n_mdl = 3),
    drp AS (SELECT CAST(count(*) AS BIGINT) AS n_items_dropped
          FROM per WHERE n_mdl <> 3),
    r AS (SELECT CAST(count(*) AS BIGINT) AS n_items,
          CAST(sum(ri) AS HUGEINT) AS sr,
          CAST(sum(ri * ri) AS HUGEINT) AS sr2 FROM comp),
    c AS (SELECT CAST(sum(cj * cj) AS HUGEINT) AS sc2 FROM
          (SELECT v.mdl, sum(v.ok) AS cj FROM v
            JOIN comp ON v.item = comp.item GROUP BY 1))
    SELECT r.n_items, CAST(3 AS BIGINT) AS k, drp.n_items_dropped,
      CASE WHEN 3 * sr - sr2 > 0
        THEN CAST(((2 * (3 * sc2 - sr * sr)) * 1000) // (3 * sr - sr2)
          AS BIGINT) END AS q_milli
    FROM r, c, drp"""

  // —————————————————————————————— rank-biased overlap (q319)
  // (does ranking documents by characters agree at the head with
  //  ranking by word count? RBO_ext at depth 20, p = ½.)
  val q319Rbo: Q = (s, dir) =>
    Evaluation.rankBiasedOverlap(
      Tables.documents(s, dir)
        .where(col("doc_id").isNotNull && col("n_chars").isNotNull &&
          col("text").isNotNull)
        .select(col("doc_id"), col("n_chars"),
          size(filter(split(lower(col("text")), " "),
            x => length(x) > 0)).cast("long").as("n_words")),
      "doc_id", "n_chars", "n_words")
  private val q319Sql: String = """
    WITH base AS (SELECT doc_id AS id, CAST(n_chars AS BIGINT) AS sa,
            CAST(len(list_filter(string_split(lower(text), ' '),
              x -> len(x) > 0)) AS BIGINT) AS sb
          FROM documents WHERE doc_id IS NOT NULL
            AND n_chars IS NOT NULL AND text IS NOT NULL),
    a AS (SELECT id, row_number() OVER (ORDER BY sa DESC, id) AS ra
          FROM base ORDER BY sa DESC, id LIMIT 20),
    b AS (SELECT id, row_number() OVER (ORDER BY sb DESC, id) AS rb
          FROM base ORDER BY sb DESC, id LIMIT 20),
    nm AS (SELECT least((SELECT count(*) FROM a),
            (SELECT count(*) FROM b)) AS n_min),
    ds AS (SELECT unnest(range(1, 21)) AS d),
    ov AS (SELECT ds.d, (SELECT count(*) FROM a JOIN b ON a.id = b.id
            WHERE a.ra <= ds.d AND b.rb <= ds.d) AS o FROM ds)
    SELECT CAST(sum((1000000 * o) //
        (least(d, n_min) * (CAST(1 AS BIGINT) << d))) AS BIGINT)
        AS rbo_micro,
      CAST(20 AS BIGINT) AS depth
    FROM ov, nm"""

  // —————————————————————————————— gains / lift table (q320)
  // (n_chars as the "model score" for predicting lang = 'en';
  //  value-aligned deciles from the distinct-score cumulative frame.)
  val q320Gains: Q = (s, dir) =>
    Evaluation.gainsTable(
      Tables.documents(s, dir)
        .where(col("n_chars").isNotNull && col("lang").isNotNull)
        .select(col("n_chars").as("score"),
          (col("lang") === "en").cast("long").as("y")),
      "score", "y")
  private val q320Sql: String = """
    WITH bs AS (SELECT CAST(n_chars AS BIGINT) AS score,
            CAST(count(*) AS BIGINT) AS n,
            CAST(sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS BIGINT)
              AS pos
          FROM documents WHERE n_chars IS NOT NULL AND lang IS NOT NULL
          GROUP BY 1),
    tot AS (SELECT CAST(sum(n) AS BIGINT) AS _n,
            CAST(sum(pos) AS BIGINT) AS _p FROM bs),
    cum AS (SELECT score, n, pos,
            CAST(sum(n) OVER (ORDER BY score DESC) AS BIGINT) AS cum_n
          FROM bs),
    bnd AS (SELECT least(CAST(9 AS BIGINT), (10 * (cum_n - n)) // _n)
            AS band, n, pos, cum_n FROM cum, tot),
    g AS (SELECT band, CAST(sum(n) AS BIGINT) AS n,
            CAST(sum(pos) AS BIGINT) AS positives,
            CAST(max(cum_n) AS BIGINT) AS cum_n FROM bnd GROUP BY 1),
    g2 AS (SELECT band, n, positives, cum_n,
            CAST(sum(positives) OVER (ORDER BY band) AS BIGINT)
              AS cum_positives FROM g)
    SELECT band, n, positives, cum_n, cum_positives,
      CASE WHEN _p > 0
        THEN CAST((1000000 * cum_positives) // _p AS BIGINT)
        END AS gain_ppm,
      CASE WHEN cum_n > 0 AND _p > 0
        THEN CAST((1000000 * cum_positives * _n) // (cum_n * _p)
          AS BIGINT) END AS lift_ppm
    FROM g2, tot"""

  // —————————————————————————————— WoE / IV feature screen (q321)
  // (how strongly does `source` separate English from non-English?
  //  Totals over two-sided bins only; one-sided bins release null.)
  val q321WoeIv: Q = (s, dir) =>
    Analytics.woeIv(
      Tables.documents(s, dir)
        .where(col("source").isNotNull && col("lang").isNotNull)
        .select(col("source"), (col("lang") === "en").cast("long").as("y")),
      "source", "y")
  private val q321Sql: String = """
    WITH bins AS (SELECT source AS bin,
            CAST(sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS BIGINT)
              AS g,
            CAST(sum(CASE WHEN lang = 'en' THEN 0 ELSE 1 END) AS BIGINT)
              AS b
          FROM documents WHERE source IS NOT NULL AND lang IS NOT NULL
          GROUP BY 1),
    tot AS (SELECT CAST(sum(g) AS BIGINT) AS gt,
            CAST(sum(b) AS BIGINT) AS bt FROM bins
          WHERE g > 0 AND b > 0),
    sc AS (SELECT bin, g, b,
            CASE WHEN g > 0 AND b > 0 THEN
              CAST(round(1000000 * ln(
                CAST(CAST(g AS HUGEINT) * bt AS DOUBLE) /
                CAST(CAST(b AS HUGEINT) * gt AS DOUBLE))) AS BIGINT)
            END AS woe_micro
          FROM bins, tot)
    SELECT bin AS source, g AS n_good, b AS n_bad, woe_micro,
      CASE WHEN woe_micro IS NOT NULL THEN
        CAST(((CAST(g AS HUGEINT) * bt - CAST(b AS HUGEINT) * gt)
          * woe_micro) // (CAST(gt AS HUGEINT) * bt) AS BIGINT)
      END AS iv_contrib_micro
    FROM sc, tot"""

  // —————————————————————————————— RFM segmentation (q322)
  // (recency/frequency/monetary codes per user from the events
  //  table; value-aligned quintile bands, recency inverted.)
  val q322Rfm: Q = (s, dir) =>
    Analytics.rfmSegments(Tables.events(s, dir), "user_id", "ts", "value")
  private val q322Sql: String = """
    WITH per AS (SELECT user_id AS entity,
            CAST(max(epoch_us(ts)) AS BIGINT) AS last_us,
            CAST(count(*) AS BIGINT) AS f,
            CAST(sum(CAST(round(value * 1000000) AS BIGINT)) AS BIGINT)
              AS m_micro
          FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL
            AND value IS NOT NULL GROUP BY 1),
    mx AS (SELECT max(last_us) AS _mx FROM per),
    base AS (SELECT entity, (_mx - last_us) // 86400000000 AS r_days,
            f, m_micro FROM per, mx),
    tt AS (SELECT CAST(count(*) AS BIGINT) AS _t FROM base),
    rb AS (SELECT v, 5 - least(CAST(4 AS BIGINT),
            (5 * (cum_end - cnt)) // _t) AS code FROM
          (SELECT v, cnt, sum(cnt) OVER (ORDER BY v) AS cum_end FROM
            (SELECT r_days AS v, CAST(count(*) AS BIGINT) AS cnt
              FROM base GROUP BY 1)), tt),
    fb AS (SELECT v, least(CAST(4 AS BIGINT),
            (5 * (cum_end - cnt)) // _t) + 1 AS code FROM
          (SELECT v, cnt, sum(cnt) OVER (ORDER BY v) AS cum_end FROM
            (SELECT f AS v, CAST(count(*) AS BIGINT) AS cnt
              FROM base GROUP BY 1)), tt),
    mb AS (SELECT v, least(CAST(4 AS BIGINT),
            (5 * (cum_end - cnt)) // _t) + 1 AS code FROM
          (SELECT v, cnt, sum(cnt) OVER (ORDER BY v) AS cum_end FROM
            (SELECT m_micro AS v, CAST(count(*) AS BIGINT) AS cnt
              FROM base GROUP BY 1)), tt)
    SELECT base.entity AS user_id, base.r_days, base.f, base.m_micro,
      CAST(rb.code AS BIGINT) AS r_code, CAST(fb.code AS BIGINT) AS f_code,
      CAST(mb.code AS BIGINT) AS m_code,
      CAST(rb.code AS VARCHAR) || CAST(fb.code AS VARCHAR) ||
        CAST(mb.code AS VARCHAR) AS segment
    FROM base JOIN rb ON base.r_days = rb.v
      JOIN fb ON base.f = fb.v JOIN mb ON base.m_micro = mb.v"""

  // —————————————————————————————— dispersion index (q323)
  // (variance-to-mean of per-user event counts within each
  //  event_type — the overdispersion gate before Poisson models.)
  val q323Dispersion: Q = (s, dir) =>
    Analytics.dispersionIndex(Tables.events(s, dir),
      "event_type", "user_id")
  private val q323Sql: String = """
    WITH m AS (SELECT event_type AS g, user_id AS mb,
            CAST(count(*) AS BIGINT) AS x
          FROM events WHERE event_type IS NOT NULL
            AND user_id IS NOT NULL GROUP BY 1, 2)
    SELECT g AS event_type, CAST(count(*) AS BIGINT) AS n,
      CAST(sum(x) AS BIGINT) AS total,
      CASE WHEN count(*) >= 2 AND sum(x) > 0
        THEN CAST((1000 * (count(*) * CAST(sum(x * x) AS HUGEINT)
            - CAST(sum(x) AS HUGEINT) * sum(x)))
          // ((count(*) - 1) * CAST(sum(x) AS HUGEINT)) AS BIGINT)
        END AS dispersion_milli
    FROM m GROUP BY 1"""

  // —————————————————————————————— sorted-neighborhood dedup (q324)
  // (Hernández–Stolfo SNM over the lowercased 16-char text prefix:
  //  block on 2 chars, window 3, Levenshtein ≤ 3 verification.)
  val q324SnmPairs: Q = (s, dir) =>
    Dedup.sortedNeighborhoodPairs(
      Tables.documents(s, dir)
        .where(col("doc_id").isNotNull && col("text").isNotNull)
        .select(col("doc_id"),
          lower(substring(col("text"), 1, 16)).as("k")),
      "doc_id", "k", window = 3, blockChars = 2, maxDist = 3)
  private val q324Sql: String = """
    WITH b AS (SELECT doc_id AS id, lower(substr(text, 1, 16)) AS k,
            substr(lower(substr(text, 1, 16)), 1, 2) AS blk
          FROM documents WHERE doc_id IS NOT NULL AND text IS NOT NULL),
    r AS (SELECT id, k, blk,
            row_number() OVER (PARTITION BY blk ORDER BY k, id) AS rn
          FROM b)
    SELECT a.id AS id_a, c.id AS id_b,
      CAST(levenshtein(a.k, c.k) AS BIGINT) AS dist
    FROM r a JOIN r c ON a.blk = c.blk AND c.rn > a.rn
      AND c.rn <= a.rn + 3
    WHERE levenshtein(a.k, c.k) <= 3"""

  // —————————————————————————————— degree assortativity (q325)
  // (the part–supplier incidence graph: bipartite, so hubs wire to
  //  leaves and r < 0 — the structural signal skew planning reads.)
  val q325Assortativity: Q = (s, dir) => {
    val pairs = Tables.lineitem(s, dir)
      .where(col("l_partkey").isNotNull && col("l_suppkey").isNotNull)
      .select((col("l_partkey") * 2).as("src"),
        (col("l_suppkey") * 2 + 1).as("tgt"))
      .distinct()
    Graph.assortativity(pairs)
  }
  private val q325Sql: String = """
    WITH pr AS (SELECT DISTINCT l_partkey * 2 AS src,
            l_suppkey * 2 + 1 AS tgt FROM lineitem
          WHERE l_partkey IS NOT NULL AND l_suppkey IS NOT NULL),
    sym AS (SELECT src, tgt FROM pr UNION ALL SELECT tgt, src FROM pr),
    deg AS (SELECT src AS node, CAST(count(*) AS BIGINT) AS d
          FROM sym GROUP BY 1),
    pa AS (SELECT da.d AS dx, db.d AS dy FROM sym
          JOIN deg da ON sym.src = da.node
          JOIN deg db ON sym.tgt = db.node),
    ag AS (SELECT CAST(count(*) AS BIGINT) AS m,
          CAST(sum(dx) AS HUGEINT) AS sx, CAST(sum(dy) AS HUGEINT) AS sy,
          CAST(sum(CAST(dx AS HUGEINT) * dy) AS HUGEINT) AS sxy,
          CAST(sum(CAST(dx AS HUGEINT) * dx) AS HUGEINT) AS sx2,
          CAST(sum(CAST(dy AS HUGEINT) * dy) AS HUGEINT) AS sy2 FROM pa)
    SELECT m, CASE WHEN m * sx2 - sx * sx > 0 AND m * sy2 - sy * sy > 0
      THEN round(CAST(m * sxy - sx * sy AS DOUBLE) /
        sqrt(CAST(m * sx2 - sx * sx AS DOUBLE) *
          CAST(m * sy2 - sy * sy AS DOUBLE)), 6)
      END AS assortativity
    FROM ag"""

  // —————————————————————————————— association rules (q326)
  // (parts co-ordered in the same order: directed A⇒B rules with
  //  exact ppm confidence/lift, basket-capped pair fan-out.)
  val q326BasketRules: Q = (s, dir) =>
    Analytics.basketRules(
      Tables.lineitem(s, dir)
        .where(col("l_orderkey").isNotNull && col("l_partkey").isNotNull)
        .select(col("l_orderkey").as("bk"), col("l_partkey").as("item")),
      "bk", "item", minPairSupport = 2)
  private val q326Sql: String = """
    WITH inc AS (SELECT DISTINCT l_orderkey AS bk, l_partkey AS item
          FROM lineitem
          WHERE l_orderkey IS NOT NULL AND l_partkey IS NOT NULL),
    cap AS (SELECT bk, item FROM
          (SELECT bk, item, row_number() OVER
              (PARTITION BY bk ORDER BY item) AS rn FROM inc)
          WHERE rn <= 64),
    nb AS (SELECT CAST(count(DISTINCT bk) AS BIGINT) AS nb FROM cap),
    isup AS (SELECT item, CAST(count(*) AS BIGINT) AS n_item
          FROM cap GROUP BY 1),
    p AS (SELECT a.item AS ia, b.item AS ib,
            CAST(count(*) AS BIGINT) AS n_ab
          FROM cap a JOIN cap b ON a.bk = b.bk AND a.item <> b.item
          GROUP BY 1, 2 HAVING count(*) >= 2)
    SELECT ia AS antecedent, ib AS consequent, n_ab,
      sa.n_item AS n_a, sb.n_item AS n_b,
      CAST((1000000 * n_ab) // sa.n_item AS BIGINT) AS conf_ppm,
      CAST((1000000 * n_ab * nb.nb) // (sa.n_item * sb.n_item) AS BIGINT)
        AS lift_ppm
    FROM p JOIN isup sa ON p.ia = sa.item
      JOIN isup sb ON p.ib = sb.item, nb"""

  // —————————————————————————————— lead–lag cross-correlation (q327)
  // (do clicks lead purchases, hour-grained? CCF at lags −6..6 on the
  //  dense shared hour lattice, exact sums, one 6 d.p. sqrt.)
  val q327CrossCorrelation: Q = (s, dir) =>
    TimeSeries.crossCorrelation(Tables.events(s, dir), "ts",
      "event_type", "click", "purchase", maxLag = 6)
  private val q327Sql: String = """
    WITH hh AS (SELECT epoch_us(ts) // 3600000000 AS h, event_type AS et
          FROM events WHERE ts IS NOT NULL
            AND event_type IN ('click', 'purchase')),
    c AS (SELECT h, et, CAST(count(*) AS BIGINT) AS c
          FROM hh GROUP BY 1, 2),
    sp AS (SELECT min(h) AS h0, max(h) AS h1 FROM c),
    lat AS (SELECT unnest(range(h0, h1 + 1)) AS h FROM sp),
    ser AS (SELECT lat.h, coalesce(x.c, 0) AS x, coalesce(y.c, 0) AS y
          FROM lat
          LEFT JOIN (SELECT h, c FROM c WHERE et = 'click') x
            ON lat.h = x.h
          LEFT JOIN (SELECT h, c FROM c WHERE et = 'purchase') y
            ON lat.h = y.h),
    lg AS (SELECT unnest(range(-6, 7)) AS lag),
    pr AS (SELECT lg.lag, a.x, b.y FROM lg
          CROSS JOIN ser a JOIN ser b ON b.h = a.h + lg.lag),
    ag AS (SELECT lag, CAST(count(*) AS BIGINT) AS n,
          CAST(sum(x) AS HUGEINT) AS sx, CAST(sum(y) AS HUGEINT) AS sy,
          CAST(sum(CAST(x AS HUGEINT) * y) AS HUGEINT) AS sxy,
          CAST(sum(CAST(x AS HUGEINT) * x) AS HUGEINT) AS sx2,
          CAST(sum(CAST(y AS HUGEINT) * y) AS HUGEINT) AS sy2
          FROM pr GROUP BY 1)
    SELECT lag, n, CASE WHEN n * sx2 - sx * sx > 0
        AND n * sy2 - sy * sy > 0
      THEN round(CAST(n * sxy - sx * sy AS DOUBLE) /
        sqrt(CAST(n * sx2 - sx * sx AS DOUBLE) *
          CAST(n * sy2 - sy * sy AS DOUBLE)), 6)
      END AS r
    FROM ag"""

  // —————————————————————————————— inter-event burstiness (q328)
  // (per event_type: exact gap CV² + Goh–Barabási B over per-user
  //  inter-event gaps — Poisson-or-bursty arrival profiling.)
  val q328Burstiness: Q = (s, dir) =>
    TimeSeries.interEventBurstiness(Tables.events(s, dir),
      "event_type", "user_id", "ts")
  private val q328Sql: String = """
    WITH b AS (SELECT event_type AS k, user_id AS ent, epoch_us(ts) AS us
          FROM events WHERE event_type IS NOT NULL
            AND user_id IS NOT NULL AND ts IS NOT NULL),
    g AS (SELECT k, (us - lag(us) OVER
            (PARTITION BY k, ent ORDER BY us)) // 1000 AS g FROM b),
    ag AS (SELECT k, CAST(count(*) AS BIGINT) AS n,
          CAST(sum(g) AS HUGEINT) AS sg,
          CAST(sum(CAST(g AS HUGEINT) * g) AS HUGEINT) AS sg2
          FROM g WHERE g IS NOT NULL GROUP BY 1)
    SELECT k AS event_type, n AS n_gaps, CAST(sg AS BIGINT) AS sum_gap_ms,
      CASE WHEN n >= 2 AND sg > 0
        THEN CAST((1000 * n * (n * sg2 - sg * sg))
          // ((n - 1) * sg * sg) AS BIGINT) END AS cv2_milli,
      CASE WHEN n >= 2 AND sg > 0
        THEN round((sqrt(CAST(n * sg2 - sg * sg AS DOUBLE) /
            CAST(n * (n - 1) AS DOUBLE)) -
            CAST(sg AS DOUBLE) / CAST(n AS DOUBLE)) /
          (sqrt(CAST(n * sg2 - sg * sg AS DOUBLE) /
            CAST(n * (n - 1) AS DOUBLE)) +
            CAST(sg AS DOUBLE) / CAST(n AS DOUBLE)), 6)
        END AS burstiness
    FROM ag"""

  // —————————————————————————————— 1-D Wasserstein drift (q329)
  // (pairwise earth-mover distance between five sources' n_chars
  //  distributions — the how-far-did-mass-move cousin of PSI/KS.)
  val q329Wasserstein: Q = (s, dir) =>
    Analytics.wasserstein1d(Tables.documents(s, dir), "source",
      "n_chars", Seq("src0", "src1", "src2", "src3", "src4"))
  private val q329Sql: String = """
    WITH c AS (SELECT source AS g, CAST(n_chars AS BIGINT) AS v,
            CAST(count(*) AS BIGINT) AS c FROM documents
          WHERE source IN ('src0','src1','src2','src3','src4')
            AND n_chars IS NOT NULL GROUP BY 1, 2),
    t AS (SELECT g, CAST(sum(c) AS BIGINT) AS n FROM c GROUP BY 1),
    p AS (SELECT a.g AS ga, a.n AS na, b.g AS gb, b.n AS nb
          FROM t a, t b WHERE a.g < b.g),
    sup AS (SELECT DISTINCT v FROM c),
    lat AS (SELECT p.ga, p.gb, p.na, p.nb, sup.v,
            coalesce(ca.c, 0) AS ca, coalesce(cb.c, 0) AS cb
          FROM p CROSS JOIN sup
          LEFT JOIN c ca ON ca.g = p.ga AND ca.v = sup.v
          LEFT JOIN c cb ON cb.g = p.gb AND cb.v = sup.v),
    cu AS (SELECT ga, gb, na, nb,
          sum(ca) OVER (PARTITION BY ga, gb ORDER BY v) AS cum_a,
          sum(cb) OVER (PARTITION BY ga, gb ORDER BY v) AS cum_b,
          lead(v) OVER (PARTITION BY ga, gb ORDER BY v) - v AS dv
          FROM lat)
    SELECT ga AS group_a, gb AS group_b,
      CAST(max(na) AS BIGINT) AS n_a, CAST(max(nb) AS BIGINT) AS n_b,
      CAST((1000000 * sum(abs(CAST(cum_a AS HUGEINT) * nb
          - CAST(cum_b AS HUGEINT) * na) * dv))
        // (CAST(max(na) AS HUGEINT) * max(nb)) AS BIGINT) AS w1_micro
    FROM cu WHERE dv IS NOT NULL GROUP BY 1, 2"""

  // —————————————————————————————— readability profile (q330)
  // (Flesch-style register signal: regex-exact sentence/word/vowel-run
  //  counts, integer milli ratios, pinned subtraction order.)
  val q330Readability: Q = (s, dir) =>
    Cleaning.readabilityMetrics(Tables.documents(s, dir), "text", "doc_id")
  private val q330Sql: String = """
    SELECT doc_id,
      greatest(1, CAST(len(regexp_extract_all(text, '[.!?]+')) AS BIGINT))
        AS n_sentences,
      CAST(len(regexp_extract_all(text, '[^ \t\n\r]+')) AS BIGINT)
        AS n_words,
      CAST(len(regexp_extract_all(lower(text), '[aeiouy]+')) AS BIGINT)
        AS n_syllables,
      CASE WHEN len(regexp_extract_all(text, '[^ \t\n\r]+')) > 0
        THEN (1000 * CAST(len(regexp_extract_all(text, '[^ \t\n\r]+'))
            AS BIGINT))
          // greatest(1, CAST(len(regexp_extract_all(text, '[.!?]+'))
            AS BIGINT)) END AS wps_milli,
      CASE WHEN len(regexp_extract_all(text, '[^ \t\n\r]+')) > 0
        THEN (1000 * CAST(len(regexp_extract_all(lower(text), '[aeiouy]+'))
            AS BIGINT))
          // CAST(len(regexp_extract_all(text, '[^ \t\n\r]+')) AS BIGINT)
        END AS spw_milli,
      CASE WHEN len(regexp_extract_all(text, '[^ \t\n\r]+')) > 0
        THEN 206835
          - (1015 * ((1000 * CAST(len(regexp_extract_all(text,
              '[^ \t\n\r]+')) AS BIGINT))
            // greatest(1, CAST(len(regexp_extract_all(text, '[.!?]+'))
              AS BIGINT)))) // 1000
          - (84600 * ((1000 * CAST(len(regexp_extract_all(lower(text),
              '[aeiouy]+')) AS BIGINT))
            // CAST(len(regexp_extract_all(text, '[^ \t\n\r]+'))
              AS BIGINT))) // 1000
        END AS flesch_milli
    FROM documents WHERE doc_id IS NOT NULL AND text IS NOT NULL"""

  // —————————————————————————————— rich-club profile (q331)
  // (φ(k) ladder over the part–supplier graph — do high-degree nodes
  //  form a dense club? Exact ppm density per threshold.)
  val q331RichClub: Q = (s, dir) => {
    val pairs = Tables.lineitem(s, dir)
      .where(col("l_partkey").isNotNull && col("l_suppkey").isNotNull)
      .select((col("l_partkey") * 2).as("src"),
        (col("l_suppkey") * 2 + 1).as("tgt"))
      .distinct()
    Graph.richClub(pairs, maxK = 8)
  }
  private val q331Sql: String = """
    WITH pr AS (SELECT DISTINCT l_partkey * 2 AS src,
            l_suppkey * 2 + 1 AS tgt FROM lineitem
          WHERE l_partkey IS NOT NULL AND l_suppkey IS NOT NULL),
    sym AS (SELECT src, tgt FROM pr UNION ALL SELECT tgt, src FROM pr),
    deg AS (SELECT src AS node, CAST(count(*) AS BIGINT) AS d
          FROM sym GROUP BY 1),
    pa AS (SELECT da.d AS dx, db.d AS dy FROM sym
          JOIN deg da ON sym.src = da.node
          JOIN deg db ON sym.tgt = db.node),
    ks AS (SELECT unnest(range(1, 9)) AS k),
    nk AS (SELECT ks.k, CAST(count(*) AS BIGINT) AS n_nodes
          FROM deg CROSS JOIN ks WHERE d > ks.k GROUP BY 1),
    ek AS (SELECT ks.k, CAST(count(*) AS BIGINT) AS n_edges
          FROM pa CROSS JOIN ks
          WHERE dx > ks.k AND dy > ks.k GROUP BY 1)
    SELECT ks.k, coalesce(nk.n_nodes, 0) AS n_nodes,
      coalesce(ek.n_edges, 0) AS n_edges,
      CASE WHEN coalesce(nk.n_nodes, 0) >= 2
        THEN CAST((1000000 * coalesce(ek.n_edges, 0))
          // (nk.n_nodes * (nk.n_nodes - 1)) AS BIGINT) END AS phi_ppm
    FROM ks LEFT JOIN nk ON ks.k = nk.k LEFT JOIN ek ON ks.k = ek.k"""

  // —————————————————————————————— position-based attribution (q332)
  // (U-shaped 40/20/40 credit per channel over the 7-day conversion
  //  window — the scheme between last-touch q142 and linear q157.)
  val q332PositionAttribution: Q = (s, dir) =>
    Analytics.positionAttribution(Tables.events(s, dir), "user_id",
      "ts", "event_id", "event_type", "purchase", Seq("click", "view"),
      windowUs = 7L * 86400 * 1000000)
  private val q332Sql: String = """
    WITH e AS (SELECT user_id AS k, event_id AS id, epoch_us(ts) AS us,
            event_type AS et FROM events),
    cv AS (SELECT k, id AS conv_id, us AS conv_us FROM e
          WHERE et = 'purchase'),
    tc AS (SELECT k, id AS touch_id, us AS touch_us, et AS channel
          FROM e WHERE et IN ('click', 'view')),
    pr AS (SELECT cv.k, cv.conv_id, tc.touch_id, tc.touch_us, tc.channel
          FROM cv JOIN tc ON cv.k = tc.k
          WHERE tc.touch_us < cv.conv_us
            AND tc.touch_us >= cv.conv_us - 604800000000),
    cr AS (SELECT channel, k, conv_id,
          row_number() OVER (PARTITION BY k, conv_id
            ORDER BY touch_us, touch_id) AS rn,
          count(*) OVER (PARTITION BY k, conv_id) AS kt
          FROM pr)
    SELECT channel, CAST(count(*) AS BIGINT) AS n_touches,
      CAST(count(DISTINCT conv_id) AS BIGINT) AS n_conversions,
      CAST(sum(CASE WHEN kt = 1 THEN 1000000
        WHEN kt = 2 THEN 500000
        WHEN rn = 1 OR rn = kt THEN 400000
        ELSE 200000 // (kt - 2) END) AS BIGINT) AS credit_ppm_total
    FROM cr GROUP BY 1"""

  // —————————————————————————————— difference-in-differences (q333)
  // (2×2 cohort/date lattice over orders: the quasi-experimental
  //  effect estimate with exact micro means, pinned truncation order.)
  val q333DiffInDiff: Q = (s, dir) =>
    Analytics.diffInDiff(
      Tables.orders(s, dir).select(
        (col("o_custkey") % 2 === 0).as("t"),
        (col("o_orderdate") >= lit("1998-01-01").cast("timestamp")).as("p"),
        col("o_totalprice").as("v")),
      "t", "p", "v")
  private val q333Sql: String = """
    WITH b AS (SELECT (o_custkey % 2 = 0) AS t,
            (o_orderdate >= TIMESTAMP '1998-01-01') AS p,
            CAST(round(o_totalprice * 1000000) AS BIGINT) AS v
          FROM orders WHERE o_custkey IS NOT NULL
            AND o_orderdate IS NOT NULL AND o_totalprice IS NOT NULL),
    c AS (SELECT t, p, CAST(count(*) AS BIGINT) AS n,
          CAST(sum(CAST(v AS HUGEINT)) // count(*) AS BIGINT) AS m
          FROM b GROUP BY 1, 2)
    SELECT
      max(CASE WHEN t AND NOT p THEN n END) AS n_t_pre,
      max(CASE WHEN t AND NOT p THEN m END) AS m_t_pre_micro,
      max(CASE WHEN t AND p THEN n END) AS n_t_post,
      max(CASE WHEN t AND p THEN m END) AS m_t_post_micro,
      max(CASE WHEN NOT t AND NOT p THEN n END) AS n_c_pre,
      max(CASE WHEN NOT t AND NOT p THEN m END) AS m_c_pre_micro,
      max(CASE WHEN NOT t AND p THEN n END) AS n_c_post,
      max(CASE WHEN NOT t AND p THEN m END) AS m_c_post_micro,
      (max(CASE WHEN t AND p THEN m END)
        - max(CASE WHEN t AND NOT p THEN m END))
      - (max(CASE WHEN NOT t AND p THEN m END)
        - max(CASE WHEN NOT t AND NOT p THEN m END)) AS did_micro
    FROM c"""

  // —————————————————————————————— episode support (q334)
  // (q107's ordered funnel with a max-gap constraint per step: view →
  //  click → purchase each within 2h of the previous, support over ALL
  //  30-min-gap sessions, exact ppm.)
  val q334EpisodeSupport: Q = (s, dir) =>
    Analytics.episodeSupport(Tables.events(s, dir),
      Seq("view", "click", "purchase"))
  private val q334Sql: String = """
    WITH g AS (SELECT user_id, event_id, event_type, epoch_us(ts) AS us,
          CASE WHEN lag(epoch_us(ts)) OVER w IS NULL
                OR epoch_us(ts) - lag(epoch_us(ts)) OVER w >= 1800000000
               THEN 1 ELSE 0 END AS new_s
          FROM events
          WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts), event_id)),
    s AS (SELECT user_id, event_type, us, event_id,
          CAST(sum(new_s) OVER (PARTITION BY user_id ORDER BY us, event_id
            ROWS UNBOUNDED PRECEDING) AS BIGINT) AS sess FROM g),
    f1 AS (SELECT *, min(CASE WHEN event_type = 'view' THEN us END)
            OVER (PARTITION BY user_id, sess) AS s1 FROM s),
    f2 AS (SELECT *, min(CASE WHEN event_type = 'click' AND us > s1
              AND us <= s1 + 7200000000 THEN us END)
            OVER (PARTITION BY user_id, sess) AS s2 FROM f1),
    f3 AS (SELECT *, min(CASE WHEN event_type = 'purchase' AND us > s2
              AND us <= s2 + 7200000000 THEN us END)
            OVER (PARTITION BY user_id, sess) AS s3 FROM f2),
    h AS (SELECT user_id, sess,
          max(CASE WHEN s3 IS NOT NULL THEN 1 ELSE 0 END) AS hit
          FROM f3 GROUP BY 1, 2)
    SELECT CAST(count(*) AS BIGINT) AS n_sessions,
      CAST(sum(hit) AS BIGINT) AS n_matched,
      CASE WHEN count(*) > 0
        THEN CAST((1000000 * sum(hit)) // count(*) AS BIGINT)
      END AS support_ppm
    FROM h"""

  // —————————————————————————————— Neyman allocation (q335)
  // (optimal stratified-sampling design over lineitem return flags:
  //  alloc ∝ N_h·σ_h with ONE pinned micro sqrt per stratum, exact
  //  largest-remainder split summing to exactly 10000.)
  val q335NeymanAllocation: Q = (s, dir) =>
    Analytics.neymanAllocation(
      Tables.lineitem(s, dir).select(col("l_returnflag"),
        round(col("l_quantity") * 100).cast("long").as("qc")),
      "l_returnflag", "qc", nSample = 10000L)
  private val q335Sql: String = """
    WITH b AS (SELECT l_returnflag AS h,
            CAST(round(l_quantity * 100) AS BIGINT) AS v
          FROM lineitem WHERE l_returnflag IS NOT NULL
            AND l_quantity IS NOT NULL),
    m AS (SELECT h, CAST(count(*) AS BIGINT) AS nh,
          CAST(sum(CAST(v AS HUGEINT)) AS HUGEINT) AS sv,
          CAST(sum(CAST(v AS HUGEINT) * v) AS HUGEINT) AS sv2
          FROM b GROUP BY 1),
    sd AS (SELECT h, nh,
          CASE WHEN nh >= 2 THEN CAST(round(1000000 * sqrt(
              CAST(nh * sv2 - sv * sv AS DOUBLE) /
                CAST(CAST(nh AS HUGEINT) * (nh - 1) AS DOUBLE)))
            AS BIGINT) ELSE 0 END AS std_micro FROM m),
    w AS (SELECT h, nh, std_micro,
          CAST(nh AS HUGEINT) * std_micro AS w FROM sd),
    t AS (SELECT CAST(sum(w) AS HUGEINT) AS tw FROM w),
    base AS (SELECT h, nh, std_micro, tw,
          CASE WHEN tw > 0 THEN CAST((10000 * w) // tw AS BIGINT) END
            AS base,
          CASE WHEN tw > 0 THEN (10000 * w) % tw END AS rem
          FROM w, t),
    lo AS (SELECT 10000 - coalesce(CAST(sum(base) AS BIGINT), 0) AS lo
          FROM base),
    r AS (SELECT *, row_number() OVER (ORDER BY rem DESC, h ASC) AS rk
          FROM base)
    SELECT h AS l_returnflag, nh AS n_rows, std_micro,
      CASE WHEN tw > 0
        THEN base + CASE WHEN rk <= lo.lo THEN 1 ELSE 0 END
      END AS alloc_n
    FROM r, lo"""

  // —————————————————————————————— candidate-key profiling (q336)
  // (uniqueness ratio per column combo in ONE scan — multi-column
  //  countDistinct drops any-null rows, mirrored via WHERE.)
  val q336KeyCandidates: Q = (s, dir) =>
    Analytics.keyCandidates(Tables.orders(s, dir),
      Seq(Seq("o_orderkey"), Seq("o_custkey"),
        Seq("o_custkey", "o_orderdate"),
        Seq("o_orderstatus", "o_orderpriority")))
  private val q336Sql: String = """
    WITH nr AS (SELECT CAST(count(*) AS BIGINT) AS n_rows FROM orders),
    n1 AS (SELECT CAST(count(*) AS BIGINT) AS nn FROM orders
          WHERE o_orderkey IS NOT NULL),
    d1 AS (SELECT CAST(count(*) AS BIGINT) AS nd FROM
          (SELECT DISTINCT o_orderkey FROM orders
           WHERE o_orderkey IS NOT NULL)),
    n2 AS (SELECT CAST(count(*) AS BIGINT) AS nn FROM orders
          WHERE o_custkey IS NOT NULL),
    d2 AS (SELECT CAST(count(*) AS BIGINT) AS nd FROM
          (SELECT DISTINCT o_custkey FROM orders
           WHERE o_custkey IS NOT NULL)),
    n3 AS (SELECT CAST(count(*) AS BIGINT) AS nn FROM orders
          WHERE o_custkey IS NOT NULL AND o_orderdate IS NOT NULL),
    d3 AS (SELECT CAST(count(*) AS BIGINT) AS nd FROM
          (SELECT DISTINCT o_custkey, o_orderdate FROM orders
           WHERE o_custkey IS NOT NULL AND o_orderdate IS NOT NULL)),
    n4 AS (SELECT CAST(count(*) AS BIGINT) AS nn FROM orders
          WHERE o_orderstatus IS NOT NULL AND o_orderpriority IS NOT NULL),
    d4 AS (SELECT CAST(count(*) AS BIGINT) AS nd FROM
          (SELECT DISTINCT o_orderstatus, o_orderpriority FROM orders
           WHERE o_orderstatus IS NOT NULL
             AND o_orderpriority IS NOT NULL))
    SELECT 'o_orderkey' AS combo, n_rows, nn AS n_nonnull,
      nd AS n_distinct,
      CASE WHEN nn > 0 THEN CAST((1000000 * nd) // nn AS BIGINT) END
        AS uniqueness_ppm,
      (nd = n_rows AND nn = n_rows) AS is_key FROM nr, n1, d1
    UNION ALL
    SELECT 'o_custkey', n_rows, nn, nd,
      CASE WHEN nn > 0 THEN CAST((1000000 * nd) // nn AS BIGINT) END,
      (nd = n_rows AND nn = n_rows) FROM nr, n2, d2
    UNION ALL
    SELECT 'o_custkey,o_orderdate', n_rows, nn, nd,
      CASE WHEN nn > 0 THEN CAST((1000000 * nd) // nn AS BIGINT) END,
      (nd = n_rows AND nn = n_rows) FROM nr, n3, d3
    UNION ALL
    SELECT 'o_orderstatus,o_orderpriority', n_rows, nn, nd,
      CASE WHEN nn > 0 THEN CAST((1000000 * nd) // nn AS BIGINT) END,
      (nd = n_rows AND nn = n_rows) FROM nr, n4, d4"""

  // —————————————————————————————— tokenizer fertility (q337)
  // (chars-per-token by dominant script over a planted multi-script
  //  corpus — q283's md5-bucket plant, repeated ×100 so the planted
  //  script actually DOMINATES the ~300-char Latin base and the
  //  grouping exercises all four script classes.)
  val q337TokenizerFertility: Q = (s, dir) => {
    val d = Tables.documents(s, dir)
      .where(col("doc_id").isNotNull && col("text").isNotNull)
    val b = graft.functions.HashExpressions.md5Prefix64(concat(lit("scr|"),
      col("doc_id").cast("string")), 8) % 8
    val planted = d.select(col("doc_id"),
      when(b === 0, concat(col("text"), repeat(lit(" привет мир кот"), 100)))
        .when(b === 1, concat(col("text"), repeat(lit(" 你好世界数据"), 100)))
        .when(b === 2, concat(col("text"), repeat(lit(" مرحبا بالعالم"), 100)))
        .otherwise(col("text")).as("text"))
    Cleaning.tokenizerFertility(planted, "text", "doc_id")
  }
  private val q337Sql: String = """
    WITH p AS (SELECT doc_id,
            CASE CAST(('0x' || substr(md5('scr|' ||
                CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % 8
              WHEN 0 THEN text || repeat(' привет мир кот', 100)
              WHEN 1 THEN text || repeat(' 你好世界数据', 100)
              WHEN 2 THEN text || repeat(' مرحبا بالعالم', 100)
              ELSE text END AS text
          FROM documents WHERE doc_id IS NOT NULL AND text IS NOT NULL),
    c AS (SELECT doc_id, text,
            CAST(len(regexp_extract_all(text, '\p{Latin}')) AS BIGINT)
              AS n_latin,
            CAST(len(regexp_extract_all(text, '\p{Cyrillic}')) AS BIGINT)
              AS n_cyrillic,
            CAST(len(regexp_extract_all(text, '\p{Han}')) AS BIGINT)
              AS n_han,
            CAST(len(regexp_extract_all(text, '\p{Arabic}')) AS BIGINT)
              AS n_arabic
          FROM p),
    d AS (SELECT doc_id,
            CASE WHEN n_latin + n_cyrillic + n_han + n_arabic = 0
              THEN 'none'
              WHEN n_latin >= n_cyrillic AND n_latin >= n_han
                AND n_latin >= n_arabic THEN 'latin'
              WHEN n_cyrillic >= n_han AND n_cyrillic >= n_arabic
                THEN 'cyrillic'
              WHEN n_han >= n_arabic THEN 'han'
              ELSE 'arabic' END AS dominant,
            CAST(len(text) AS BIGINT) AS n_chars,
            CAST(len(string_split(lower(text), ' ')) AS BIGINT) AS n_ws,
            CAST(len(regexp_extract_all(lower(text),
              '[a-z]+|[0-9]|[^a-z0-9\s]')) AS BIGINT) AS n_bpe
          FROM c)
    SELECT dominant, CAST(count(*) AS BIGINT) AS n_docs,
      CAST(sum(n_chars) AS BIGINT) AS chars,
      CAST(sum(n_ws) AS BIGINT) AS ws_tokens,
      CAST(sum(n_bpe) AS BIGINT) AS bpe_tokens,
      CASE WHEN sum(n_ws) > 0
        THEN CAST((1000 * sum(n_chars)) // sum(n_ws) AS BIGINT)
      END AS chars_per_ws_milli,
      CASE WHEN sum(n_bpe) > 0
        THEN CAST((1000 * sum(n_chars)) // sum(n_bpe) AS BIGINT)
      END AS chars_per_bpe_milli
    FROM d GROUP BY 1"""

  // —————————————————————————————— greedy source cover (q338)
  // (submodular curation: 3 greedy rounds of pick-the-source-adding-
  //  the-most-new-vocabulary, count-desc name-asc pinned ties; the
  //  oracle unrolls all three rounds as chained anti-joined CTEs.
  //  Cover runs over word BIGRAMS — the unigram vocabulary is a
  //  31-word pool every source fully covers, so greedy over unigrams
  //  would degenerate to one round; the 916-bigram space separates
  //  the sources.)
  val q338GreedyCover: Q = (s, dir) => {
    val bg = Tables.documents(s, dir)
      .where(col("source").isNotNull && col("text").isNotNull)
      .select(col("source"),
        expr("filter(split(lower(text), ' '), x -> x <> '')").as("ws"))
      .select(col("source"),
        expr("array_join(zip_with(" +
          "slice(ws, 1, greatest(size(ws) - 1, 0)), " +
          "slice(ws, 2, greatest(size(ws) - 1, 0)), " +
          "(a, b) -> concat(a, '_', b)), ' ')").as("text"))
    TextOps.greedySourceCover(bg, "text", "source", rounds = 3)
  }
  private val q338Sql: String = """
    WITH bg AS (SELECT s, array_to_string(list_transform(
            range(1, len(ws)), i -> ws[i] || '_' || ws[i+1]), ' ')
            AS text
          FROM (SELECT source AS s,
              list_filter(string_split(lower(text), ' '),
                x -> x <> '') AS ws
            FROM documents
            WHERE source IS NOT NULL AND text IS NOT NULL)),
    inc AS (SELECT DISTINCT s, w FROM (
            SELECT s, unnest(string_split(lower(text), ' ')) AS w
            FROM bg)
          WHERE w <> ''),
    u AS (SELECT CAST(count(DISTINCT w) AS BIGINT) AS u FROM inc),
    r1 AS (SELECT s, CAST(count(*) AS BIGINT) AS n FROM inc
          GROUP BY 1 ORDER BY n DESC, s ASC LIMIT 1),
    c1 AS (SELECT DISTINCT w FROM inc WHERE s = (SELECT s FROM r1)),
    r2 AS (SELECT s, CAST(count(*) AS BIGINT) AS n FROM inc
          WHERE s <> (SELECT s FROM r1)
            AND w NOT IN (SELECT w FROM c1)
          GROUP BY 1 ORDER BY n DESC, s ASC LIMIT 1),
    c2 AS (SELECT w FROM c1 UNION
          SELECT w FROM inc WHERE s = (SELECT s FROM r2)),
    r3 AS (SELECT s, CAST(count(*) AS BIGINT) AS n FROM inc
          WHERE s NOT IN (SELECT s FROM r1 UNION ALL SELECT s FROM r2)
            AND w NOT IN (SELECT w FROM c2)
          GROUP BY 1 ORDER BY n DESC, s ASC LIMIT 1)
    SELECT CAST(1 AS BIGINT) AS round, r1.s AS source,
      r1.n AS n_new_tokens, r1.n AS cum_covered,
      CAST((1000000 * r1.n) // u.u AS BIGINT) AS coverage_ppm
    FROM r1, u
    UNION ALL
    SELECT 2, r2.s, r2.n, r1.n + r2.n,
      CAST((1000000 * (r1.n + r2.n)) // u.u AS BIGINT)
    FROM r1, r2, u
    UNION ALL
    SELECT 3, r3.s, r3.n, r1.n + r2.n + r3.n,
      CAST((1000000 * (r1.n + r2.n + r3.n)) // u.u AS BIGINT)
    FROM r1, r2, r3, u"""

  // —————————————————————————————— seasonal-naive MASE backtest (q339)
  // (forecast hour h as hour h−24 on the dense shared hour lattice,
  //  score the last 72 hours by MAE, scale by in-train one-step naive
  //  MAE — exact integer MASE·10³.)
  val q339SeasonalNaive: Q = (s, dir) =>
    TimeSeries.seasonalNaiveBacktest(Tables.events(s, dir), "ts",
      "event_type", period = 24, testHours = 72)
  private val q339Sql: String = """
    WITH c AS (SELECT epoch_us(ts) // 3600000000 AS h, event_type AS et,
            CAST(count(*) AS BIGINT) AS c
          FROM events WHERE ts IS NOT NULL AND event_type IS NOT NULL
          GROUP BY 1, 2),
    sp AS (SELECT min(h) AS h0, max(h) AS h1 FROM c),
    lat AS (SELECT unnest(range(h0, h1 + 1)) AS h, h1 - 72 AS split_h
          FROM sp),
    ty AS (SELECT DISTINCT et FROM c),
    d AS (SELECT ty.et, lat.h, lat.split_h, coalesce(c.c, 0) AS x
          FROM lat CROSS JOIN ty
          LEFT JOIN c ON c.h = lat.h AND c.et = ty.et),
    sc AS (SELECT *, lag(x, 24) OVER (PARTITION BY et ORDER BY h) AS xs,
           lag(x, 1) OVER (PARTITION BY et ORDER BY h) AS xp FROM d),
    ag AS (SELECT et,
          CAST(sum(CASE WHEN h > split_h AND xs IS NOT NULL
            THEN 1 ELSE 0 END) AS BIGINT) AS n_test,
          CAST(coalesce(sum(CASE WHEN h > split_h AND xs IS NOT NULL
            THEN abs(x - xs) END), 0) AS BIGINT) AS sae_forecast,
          CAST(sum(CASE WHEN h <= split_h AND xp IS NOT NULL
            THEN 1 ELSE 0 END) AS BIGINT) AS n_naive,
          CAST(coalesce(sum(CASE WHEN h <= split_h AND xp IS NOT NULL
            THEN abs(x - xp) END), 0) AS BIGINT) AS sae_naive
          FROM sc GROUP BY 1)
    SELECT et AS event_type, n_test, sae_forecast, n_naive, sae_naive,
      CASE WHEN sae_naive > 0 AND n_test > 0
        THEN CAST((1000 * CAST(sae_forecast AS HUGEINT) * n_naive)
          // (CAST(sae_naive AS HUGEINT) * n_test) AS BIGINT)
      END AS mase_milli
    FROM ag"""

  // —————————————————————————————— CUPED variance reduction (q340)
  // (pre-period value sums (Jan 1-15) adjust post-period means
  //  (Jan 16-30) per md5-parity arm: θ = cov/var pooled, ρ² emitted.)
  val q340Cuped: Q = (s, dir) => {
    val splitUs = 1705363200000000L // 2024-01-16T00:00Z
    val per = Tables.events(s, dir)
      .where(col("user_id").isNotNull && col("ts").isNotNull &&
        col("value").isNotNull)
      .groupBy("user_id")
      .agg(
        sum(when(unix_micros(col("ts")) < splitUs,
          round(col("value") * 100).cast("long")).otherwise(0L)).as("pre"),
        sum(when(unix_micros(col("ts")) >= splitUs,
          round(col("value") * 100).cast("long")).otherwise(0L)).as("post"))
      .withColumn("t", graft.functions.HashExpressions.md5Prefix64(concat(lit("cup|"),
        col("user_id").cast("string")), 8) % 2 === 1)
    Analytics.cuped(per, "pre", "post", "t")
  }
  private val q340Sql: String = """
    WITH per AS (SELECT user_id,
            CAST(sum(CASE WHEN epoch_us(ts) < 1705363200000000
              THEN CAST(round(value * 100) AS BIGINT) ELSE 0 END)
              AS BIGINT) AS x,
            CAST(sum(CASE WHEN epoch_us(ts) >= 1705363200000000
              THEN CAST(round(value * 100) AS BIGINT) ELSE 0 END)
              AS BIGINT) AS y,
            CAST(('0x' || substr(md5('cup|' || CAST(user_id AS VARCHAR)),
              1, 8)) AS BIGINT) % 2 = 1 AS t
          FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL
            AND value IS NOT NULL GROUP BY 1),
    g AS (SELECT CAST(count(*) AS BIGINT) AS n,
          CAST(sum(CAST(x AS HUGEINT)) AS HUGEINT) AS sx,
          CAST(sum(CAST(y AS HUGEINT)) AS HUGEINT) AS sy,
          CAST(sum(CAST(x AS HUGEINT) * x) AS HUGEINT) AS sxx,
          CAST(sum(CAST(x AS HUGEINT) * y) AS HUGEINT) AS sxy,
          CAST(sum(CAST(y AS HUGEINT) * y) AS HUGEINT) AS syy FROM per),
    p AS (SELECT t, CAST(count(*) AS BIGINT) AS n_g,
          CAST(sum(CAST(x AS HUGEINT)) AS HUGEINT) AS sx_g,
          CAST(sum(CAST(y AS HUGEINT)) AS HUGEINT) AS sy_g
          FROM per GROUP BY 1),
    d AS (SELECT t, n_g, sx_g, sy_g, n, sx,
          CAST(n * sxx - sx * sx AS DOUBLE) AS vx,
          CAST(n * sxy - sx * sy AS DOUBLE) AS cxy,
          CAST(n * syy - sy * sy AS DOUBLE) AS vy FROM p, g)
    SELECT t, n_g AS n,
      round(CAST(sy_g AS DOUBLE) / CAST(n_g AS DOUBLE), 6) AS mean_post,
      CASE WHEN vx > 0 THEN
        round(CAST(sy_g AS DOUBLE) / CAST(n_g AS DOUBLE)
          - (cxy / vx) * (CAST(sx_g AS DOUBLE) / CAST(n_g AS DOUBLE)
            - CAST(sx AS DOUBLE) / CAST(n AS DOUBLE)), 6)
      END AS mean_adj,
      CASE WHEN vx > 0 THEN round(cxy / vx, 6) END AS theta,
      CASE WHEN vx > 0 AND vy > 0
        THEN round(cxy * cxy / (vx * vy), 6) END AS rho2
    FROM d"""

  // —————————————————————————————— uplift / Qini deciles (q341)
  // (value-scored events, md5-parity arms, purchase outcome: per-band
  //  incremental conversion and the control-scaled Qini curve.)
  val q341Uplift: Q = (s, dir) =>
    Evaluation.upliftDeciles(
      Tables.events(s, dir)
        .where(col("value").isNotNull && col("user_id").isNotNull &&
          col("event_type").isNotNull)
        .select(round(col("value") * 100).cast("long").as("score"),
          (graft.functions.HashExpressions.md5Prefix64(concat(lit("upl|"),
            col("user_id").cast("string")), 8) % 2 === 1).as("t"),
          (col("event_type") === "purchase").cast("long").as("y")),
      "score", "t", "y")
  private val q341Sql: String = """
    WITH bs AS (SELECT CAST(round(value * 100) AS BIGINT) AS score,
            CAST(count(*) AS BIGINT) AS n,
            CAST(sum(CASE WHEN CAST(('0x' || substr(md5('upl|' ||
                CAST(user_id AS VARCHAR)), 1, 8)) AS BIGINT) % 2 = 1
              THEN 1 ELSE 0 END) AS BIGINT) AS n_t,
            CAST(sum(CASE WHEN CAST(('0x' || substr(md5('upl|' ||
                CAST(user_id AS VARCHAR)), 1, 8)) AS BIGINT) % 2 = 1
                AND event_type = 'purchase'
              THEN 1 ELSE 0 END) AS BIGINT) AS pos_t,
            CAST(sum(CASE WHEN CAST(('0x' || substr(md5('upl|' ||
                CAST(user_id AS VARCHAR)), 1, 8)) AS BIGINT) % 2 = 0
                AND event_type = 'purchase'
              THEN 1 ELSE 0 END) AS BIGINT) AS pos_c
          FROM events WHERE value IS NOT NULL AND user_id IS NOT NULL
            AND event_type IS NOT NULL GROUP BY 1),
    tot AS (SELECT CAST(sum(n) AS BIGINT) AS _n FROM bs),
    cum AS (SELECT score, n, n_t, pos_t, pos_c,
            CAST(sum(n) OVER (ORDER BY score DESC) AS BIGINT) AS cum_n
          FROM bs),
    bnd AS (SELECT least(CAST(9 AS BIGINT), (10 * (cum_n - n)) // _n)
            AS band, n, n_t, pos_t, pos_c FROM cum, tot),
    g AS (SELECT band, CAST(sum(n_t) AS BIGINT) AS n_t,
            CAST(sum(n - n_t) AS BIGINT) AS n_c,
            CAST(sum(pos_t) AS BIGINT) AS pos_t,
            CAST(sum(pos_c) AS BIGINT) AS pos_c FROM bnd GROUP BY 1),
    g2 AS (SELECT band, n_t, n_c, pos_t, pos_c,
            CAST(sum(n_t) OVER (ORDER BY band) AS BIGINT) AS cum_n_t,
            CAST(sum(n_c) OVER (ORDER BY band) AS BIGINT) AS cum_n_c,
            CAST(sum(pos_t) OVER (ORDER BY band) AS BIGINT) AS cum_pos_t,
            CAST(sum(pos_c) OVER (ORDER BY band) AS BIGINT) AS cum_pos_c
          FROM g)
    SELECT band, n_t, n_c, pos_t, pos_c,
      CASE WHEN n_t > 0 AND n_c > 0
        THEN CAST((1000000 * pos_t) // n_t
          - (1000000 * pos_c) // n_c AS BIGINT) END AS uplift_ppm,
      CASE WHEN cum_n_c > 0
        THEN CAST(1000 * cum_pos_t
          - (1000 * cum_pos_c * cum_n_t) // cum_n_c AS BIGINT)
      END AS qini_milli
    FROM g2"""

  // —————————————————————————————— blocking-quality audit (q342)
  // (2-char text-prefix blocks vs 50-char length-band "truth": RR and
  //  pairs-completeness from counts only — the pair space is never
  //  materialized.)
  val q342BlockingQuality: Q = (s, dir) =>
    Dedup.blockingQuality(
      Tables.documents(s, dir)
        .where(col("doc_id").isNotNull && col("text").isNotNull &&
          col("n_chars").isNotNull)
        .select(col("doc_id"),
          substring(lower(col("text")), 1, 2).as("blk"),
          expr("n_chars div 50").as("truth")),
      "doc_id", "blk", "truth")
  private val q342Sql: String = """
    WITH base AS (SELECT substr(lower(text), 1, 2) AS b,
            n_chars // 50 AS t
          FROM documents WHERE doc_id IS NOT NULL AND text IS NOT NULL
            AND n_chars IS NOT NULL),
    nb AS (SELECT CAST(count(*) AS BIGINT) AS n_blocks,
          CAST(sum(CAST(n AS HUGEINT) * (n - 1) // 2) AS HUGEINT) AS cand
          FROM (SELECT count(*) AS n FROM base GROUP BY b)),
    nt AS (SELECT
          CAST(sum(CAST(n AS HUGEINT) * (n - 1) // 2) AS HUGEINT) AS truth
          FROM (SELECT count(*) AS n FROM base GROUP BY t)),
    nc AS (SELECT
          CAST(sum(CAST(n AS HUGEINT) * (n - 1) // 2) AS HUGEINT)
            AS covered
          FROM (SELECT count(*) AS n FROM base GROUP BY t, b)),
    tt AS (SELECT CAST(count(*) AS BIGINT) AS n_rows,
          CAST(count(*) AS HUGEINT) * (count(*) - 1) // 2 AS all_pairs
          FROM base)
    SELECT n_rows, n_blocks, CAST(cand AS BIGINT) AS cand_pairs,
      CAST(truth AS BIGINT) AS truth_pairs,
      CAST(covered AS BIGINT) AS covered_pairs,
      CASE WHEN all_pairs > 0
        THEN 1000000 - CAST((1000000 * cand) // all_pairs AS BIGINT)
      END AS reduction_ratio_ppm,
      CASE WHEN truth > 0
        THEN CAST((1000000 * covered) // truth AS BIGINT)
      END AS pairs_completeness_ppm
    FROM tt, nb, nt, nc"""

  // —————————————————————————————— local clustering (q343)
  // (per-node transitivity on the q124 md5 pseudo-graph: exact
  //  triangle credit per corner, truncating milli coefficient.)
  val q343LocalClustering: Q = (s, dir) => {
    val docs = Tables.documents(s, dir)
    Graph.localClustering(Graph.pseudoEdges(
      docs.select(col("doc_id")), "doc_id", docs.count()))
  }
  private val q343Sql: String = """
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
    deg AS (SELECT node, CAST(count(*) AS BIGINT) AS degree FROM (
            SELECT a AS node FROM und UNION ALL SELECT b FROM und)
          GROUP BY 1),
    tri AS (SELECT e1.a AS u, e1.b AS v, e2.b AS w
            FROM und e1 JOIN und e2 ON e2.a = e1.b
            JOIN und e3 ON e3.a = e1.a AND e3.b = e2.b),
    ntri AS (SELECT node, CAST(count(*) AS BIGINT) AS n_tri FROM (
            SELECT u AS node FROM tri UNION ALL SELECT v FROM tri
            UNION ALL SELECT w FROM tri) GROUP BY 1)
    SELECT deg.node, degree,
      coalesce(n_tri, 0) AS n_triangles,
      CASE WHEN degree >= 2
        THEN CAST((2000 * coalesce(n_tri, 0))
          // (degree * (degree - 1)) AS BIGINT) END AS lcc_milli
    FROM deg LEFT JOIN ntri ON deg.node = ntri.node"""

  // —————————————————————————————— pinball forecast loss (q344)
  // (q339's seasonal-naive forecasts scored at τ = 0.1/0.5/0.9 —
  //  exact integer ppm pinball loss per (type, τ).)
  val q344Pinball: Q = (s, dir) =>
    TimeSeries.pinballLoss(Tables.events(s, dir), "ts", "event_type",
      period = 24, testHours = 72)
  private val q344Sql: String = """
    WITH c AS (SELECT epoch_us(ts) // 3600000000 AS h, event_type AS et,
            CAST(count(*) AS BIGINT) AS c
          FROM events WHERE ts IS NOT NULL AND event_type IS NOT NULL
          GROUP BY 1, 2),
    sp AS (SELECT min(h) AS h0, max(h) AS h1 FROM c),
    lat AS (SELECT unnest(range(h0, h1 + 1)) AS h, h1 - 72 AS split_h
          FROM sp),
    ty AS (SELECT DISTINCT et FROM c),
    d AS (SELECT ty.et, lat.h, lat.split_h, coalesce(c.c, 0) AS x
          FROM lat CROSS JOIN ty
          LEFT JOIN c ON c.h = lat.h AND c.et = ty.et),
    sc AS (SELECT *, lag(x, 24) OVER (PARTITION BY et ORDER BY h) AS xs
          FROM d),
    ta AS (SELECT unnest([100000, 500000, 900000]) AS tau_ppm),
    te AS (SELECT et, CAST(tau_ppm AS BIGINT) AS tau_ppm, x, xs
          FROM sc CROSS JOIN ta
          WHERE h > split_h AND xs IS NOT NULL)
    SELECT et AS event_type, tau_ppm,
      CAST(count(*) AS BIGINT) AS n_test,
      CAST(sum(CASE WHEN x >= xs THEN tau_ppm * (x - xs)
        ELSE (1000000 - tau_ppm) * (xs - x) END) AS BIGINT)
        AS loss_ppm_total,
      CAST(sum(CASE WHEN x >= xs THEN tau_ppm * (x - xs)
        ELSE (1000000 - tau_ppm) * (xs - x) END)
        // (1000 * count(*)) AS BIGINT) AS mean_loss_milli
    FROM te GROUP BY 1, 2"""

  // —————————————————————————————— Theil decomposition (q345)
  // (inequality of per-user activity within/between event types:
  //  distinct-value-frame lns pinned to micro, exact weighting.)
  val q345Theil: Q = (s, dir) =>
    Analytics.theilIndex(
      Tables.events(s, dir)
        .where(col("user_id").isNotNull && col("event_type").isNotNull)
        .groupBy("event_type", "user_id").agg(count(lit(1)).as("cnt")),
      "event_type", "cnt")
  private val q345Sql: String = """
    WITH per AS (SELECT event_type AS g, user_id,
            CAST(count(*) AS BIGINT) AS v
          FROM events WHERE user_id IS NOT NULL
            AND event_type IS NOT NULL GROUP BY 1, 2),
    cells AS (SELECT g, v, CAST(count(*) AS BIGINT) AS m
          FROM per WHERE v > 0 GROUP BY 1, 2),
    pg AS (SELECT g, CAST(sum(m) AS BIGINT) AS n_g,
          CAST(sum(CAST(m AS HUGEINT) * v) AS HUGEINT) AS s_g
          FROM cells GROUP BY 1),
    tot AS (SELECT CAST(sum(n_g) AS BIGINT) AS n,
          CAST(sum(s_g) AS HUGEINT) AS s FROM pg),
    tw AS (SELECT cells.g,
          CAST(sum(CAST(m AS HUGEINT) * v *
            CAST(round(1000000 * ln(CAST(v AS DOUBLE) *
              (CAST(n_g AS DOUBLE) / CAST(s_g AS DOUBLE))))
            AS BIGINT)) AS HUGEINT) AS num
          FROM cells JOIN pg ON cells.g = pg.g GROUP BY 1)
    SELECT pg.g AS event_type, n_g AS n,
      CAST(s_g AS BIGINT) AS sum_val,
      CAST((1000000 * s_g) // s AS BIGINT) AS weight_ppm,
      CAST(greatest(CAST(0 AS HUGEINT), num) // s_g AS BIGINT)
        AS theil_within_micro,
      round((CAST(s_g AS DOUBLE) / CAST(s AS DOUBLE)) *
        ln((CAST(s_g AS DOUBLE) / CAST(s AS DOUBLE)) *
          (CAST(n AS DOUBLE) / CAST(n_g AS DOUBLE))), 6) AS between_term
    FROM pg JOIN tw ON pg.g = tw.g, tot"""

  // —————————————————————————————— required sample size (q346)
  // (per-source English-rate baseline, 10% relative MDE, α=.05 /
  //  power .8 z constants pinned micro — the experiment-design verb.)
  val q346SampleSize: Q = (s, dir) =>
    Analytics.requiredSampleSize(
      Tables.documents(s, dir)
        .where(col("source").isNotNull && col("lang").isNotNull)
        .select(col("source"), (col("lang") === "en").cast("long").as("y")),
      "source", "y")
  private val q346Sql: String = """
    WITH g AS (SELECT source, CAST(count(*) AS BIGINT) AS n_obs,
            CAST(sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS BIGINT)
              AS n_pos
          FROM documents WHERE source IS NOT NULL AND lang IS NOT NULL
          GROUP BY 1),
    d AS (SELECT source, n_obs, n_pos,
          CAST(n_pos AS DOUBLE) / CAST(n_obs AS DOUBLE) AS p1,
          (CAST(n_pos AS DOUBLE) / CAST(n_obs AS DOUBLE))
            * (1.0 + 100000 / 1000000.0) AS p2 FROM g),
    z AS (SELECT source, n_obs, n_pos, p1, p2, (p1 + p2) / 2 AS pbar,
          1959964 / 1000000.0 AS za, 841621 / 1000000.0 AS zb FROM d)
    SELECT source, n_obs, n_pos, round(p1, 6) AS p1, round(p2, 6) AS p2,
      CASE WHEN p1 > 0 AND p2 < 1 THEN
        CAST(ceil((za * sqrt(2.0 * pbar * (1.0 - pbar))
            + zb * sqrt(p1 * (1.0 - p1) + p2 * (1.0 - p2)))
          * (za * sqrt(2.0 * pbar * (1.0 - pbar))
            + zb * sqrt(p1 * (1.0 - p1) + p2 * (1.0 - p2)))
          / ((p2 - p1) * (p2 - p1))) AS BIGINT)
      END AS n_per_arm
    FROM z"""

  // —————————————————————————————— calibration error (q347)
  // (equal-width ECE/MCE over md5-ppm scores vs the English label —
  //  exact integer gaps, no float accumulation.)
  val q347CalibrationError: Q = (s, dir) =>
    Analytics.calibrationError(
      Tables.documents(s, dir)
        .where(col("doc_id").isNotNull && col("lang").isNotNull)
        .select((graft.functions.HashExpressions.md5Prefix64(concat(lit("cal|"),
          col("doc_id").cast("string")), 8)
          % 1000001 / lit(1000000.0)).as("score"),
          (col("lang") === "en").as("y")),
      "score", "y")
  private val q347Sql: String = """
    WITH s AS (SELECT CAST(round((CAST(('0x' || substr(md5('cal|' ||
            CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % 1000001
            / 1000000.0) * 1000000) AS BIGINT) AS ppm,
          CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y
          FROM documents WHERE doc_id IS NOT NULL AND lang IS NOT NULL),
    b AS (SELECT least(CAST(9 AS BIGINT), (ppm * 10) // 1000000) AS bin,
          CAST(count(*) AS BIGINT) AS n,
          CAST(sum(ppm) AS BIGINT) AS sum_ppm,
          CAST(sum(y) AS BIGINT) AS n_pos FROM s GROUP BY 1),
    g AS (SELECT bin, n, abs(sum_ppm - 1000000 * n_pos) AS gap FROM b)
    SELECT CAST(sum(n) AS BIGINT) AS n,
      CAST(count(*) AS BIGINT) AS n_bins_used,
      CASE WHEN sum(n) > 0
        THEN CAST(sum(gap) // sum(n) AS BIGINT) END AS ece_ppm,
      CAST(max(gap // n) AS BIGINT) AS mce_ppm
    FROM g"""

  // —————————————————————————————— weighted kappa (q348)
  // (three deterministic ordinal graders over documents; quadratic
  //  disagreement costs, exact marginal cross, one final division.)
  val q348WeightedKappa: Q = (s, dir) => {
    val d = Tables.documents(s, dir)
      .where(col("doc_id").isNotNull && col("n_chars").isNotNull)
    val votes = d.select(col("doc_id").as("item"), lit("m1").as("ann"),
        (col("n_chars") % 5 + 1).as("label"))
      .unionByName(d.select(col("doc_id").as("item"), lit("m2").as("ann"),
        ((col("n_chars") + col("doc_id")) % 5 + 1).as("label")))
      .unionByName(d.select(col("doc_id").as("item"), lit("m3").as("ann"),
        (expr("n_chars div 7") % 5 + 1).as("label")))
    Annotation.weightedKappa(votes, "item", "ann", "label")
  }
  private val q348Sql: String = """
    WITH v AS (
      SELECT doc_id AS item, 'm1' AS ann, n_chars % 5 + 1 AS label
        FROM documents WHERE doc_id IS NOT NULL AND n_chars IS NOT NULL
      UNION ALL
      SELECT doc_id, 'm2', (n_chars + doc_id) % 5 + 1
        FROM documents WHERE doc_id IS NOT NULL AND n_chars IS NOT NULL
      UNION ALL
      SELECT doc_id, 'm3', (n_chars // 7) % 5 + 1
        FROM documents WHERE doc_id IS NOT NULL AND n_chars IS NOT NULL),
    co AS (SELECT x.ann AS ann_a, y.ann AS ann_b,
            x.label AS la, y.label AS lb
          FROM v x JOIN v y ON x.item = y.item AND x.ann < y.ann),
    b AS (SELECT ann_a, ann_b, CAST(count(*) AS BIGINT) AS n,
          CAST(sum(CAST((la - lb) AS HUGEINT) * (la - lb)) AS HUGEINT)
            AS o FROM co GROUP BY 1, 2),
    ma AS (SELECT ann_a, ann_b, la, CAST(count(*) AS BIGINT) AS ca
          FROM co GROUP BY 1, 2, 3),
    mb AS (SELECT ann_a, ann_b, lb, CAST(count(*) AS BIGINT) AS cb
          FROM co GROUP BY 1, 2, 3),
    e AS (SELECT ma.ann_a, ma.ann_b,
          CAST(sum(CAST(ca AS HUGEINT) * cb * (la - lb) * (la - lb))
            AS HUGEINT) AS e_num
          FROM ma JOIN mb ON ma.ann_a = mb.ann_a AND ma.ann_b = mb.ann_b
          GROUP BY 1, 2)
    SELECT b.ann_a, b.ann_b, n, CAST(o AS BIGINT) AS weighted_disagreement,
      CASE WHEN e_num <> 0 THEN
        round(1.0 - CAST(n * o AS DOUBLE) / CAST(e_num AS DOUBLE), 6)
      END AS kappa_w
    FROM b JOIN e ON b.ann_a = e.ann_a AND b.ann_b = e.ann_b"""

  // —————————————————————————————— Holm–Bonferroni step-down (q349)
  // (q309's planted p-value suite under the FWER gate: step-down
  //  integer cross-multiplication, first failure blocks the rest.)
  val q349Holm: Q = (s, dir) => {
    def h(prefix: String, c: org.apache.spark.sql.Column) =
      graft.functions.HashExpressions.md5Prefix64(concat(lit(prefix), c), 8)
    val tests = Tables.events(s, dir)
      .where(col("event_id").isNotNull)
      .select((col("event_id") % 256).as("unit")).distinct()
      .select(col("unit"),
        when(h("hq|", col("unit").cast("string")) % 8 === 0,
          expr("null")).otherwise(lit(1)).as("_plant"),
        (h("hp|", col("unit").cast("string")) % 1000000).as("p_raw"))
      .select(col("unit"),
        when(col("_plant").isNull, expr("p_raw div 1000"))
          .otherwise(col("p_raw")).as("p_ppm"))
    Analytics.holmBonferroni(tests, "unit", "p_ppm", alphaPpm = 50000L)
  }
  private val q349Sql: String = """
    WITH u AS (SELECT DISTINCT event_id % 256 AS unit FROM events
          WHERE event_id IS NOT NULL),
    t AS (SELECT unit,
            CASE WHEN CAST(('0x' || substr(md5('hq|' ||
                CAST(unit AS VARCHAR)), 1, 8)) AS BIGINT) % 8 = 0
              THEN (CAST(('0x' || substr(md5('hp|' ||
                CAST(unit AS VARCHAR)), 1, 8)) AS BIGINT) % 1000000)
                // 1000
              ELSE CAST(('0x' || substr(md5('hp|' ||
                CAST(unit AS VARCHAR)), 1, 8)) AS BIGINT) % 1000000
              END AS p_ppm
          FROM u),
    m AS (SELECT count(*) AS m FROM t),
    rk AS (SELECT unit, p_ppm,
            CAST(row_number() OVER (ORDER BY p_ppm, unit) AS BIGINT)
              AS rank FROM t),
    ff AS (SELECT min(CASE WHEN p_ppm * ((SELECT m FROM m) - rank + 1)
            > 50000 THEN rank END) AS f FROM rk)
    SELECT unit, p_ppm, rank,
      (SELECT f FROM ff) IS NULL OR rank < (SELECT f FROM ff) AS rejected
    FROM rk"""

  // —————————————————————————————— leave-one-out influence (q350)
  // (which source drags the corpus n_chars mean: closed-form LOO
  //  deltas from one grouped aggregate.)
  val q350LooInfluence: Q = (s, dir) =>
    Analytics.leaveOneOutInfluence(
      Tables.documents(s, dir), "source", "n_chars")
  private val q350Sql: String = """
    WITH per AS (SELECT source AS g, CAST(count(*) AS BIGINT) AS n_g,
            CAST(sum(CAST(n_chars AS HUGEINT)) AS HUGEINT) AS s_g
          FROM documents WHERE source IS NOT NULL
            AND n_chars IS NOT NULL GROUP BY 1),
    tot AS (SELECT CAST(sum(n_g) AS BIGINT) AS n,
          CAST(sum(s_g) AS HUGEINT) AS s FROM per)
    SELECT g AS source, n_g,
      round(CAST(s AS DOUBLE) / CAST(n AS DOUBLE), 6) AS mean_overall,
      CASE WHEN n > n_g THEN
        round(CAST(s - s_g AS DOUBLE) / CAST(n - n_g AS DOUBLE), 6)
      END AS mean_without,
      CASE WHEN n > n_g THEN
        round(CAST(s - s_g AS DOUBLE) / CAST(n - n_g AS DOUBLE)
          - CAST(s AS DOUBLE) / CAST(n AS DOUBLE), 6)
      END AS influence
    FROM per, tot"""

  // —————————————————————————————— stratified ATE (q351)
  // (supplier-parity "treatment" effect on price cents, blocked by
  //  return flag; micro-pinned per-stratum diffs, exact weighted fold,
  //  truncation mirrored sign-safely in the oracle.)
  val q351StratifiedAte: Q = (s, dir) =>
    Analytics.stratifiedAte(
      Tables.lineitem(s, dir)
        .where(col("l_returnflag").isNotNull && col("l_suppkey").isNotNull &&
          col("l_extendedprice").isNotNull)
        .select(col("l_returnflag"),
          (col("l_suppkey") % 2 === 0).as("t"),
          round(col("l_extendedprice") * 100).cast("long").as("v")),
      "l_returnflag", "t", "v")
  private val q351Sql: String = """
    WITH per AS (SELECT l_returnflag AS h,
            CAST(sum(CASE WHEN l_suppkey % 2 = 0 THEN 1 ELSE 0 END)
              AS BIGINT) AS n_t,
            CAST(sum(CASE WHEN l_suppkey % 2 = 0 THEN 0 ELSE 1 END)
              AS BIGINT) AS n_c,
            CAST(sum(CASE WHEN l_suppkey % 2 = 0
              THEN CAST(round(l_extendedprice * 100) AS BIGINT)
              ELSE 0 END) AS HUGEINT) AS s_t,
            CAST(sum(CASE WHEN l_suppkey % 2 = 0 THEN 0
              ELSE CAST(round(l_extendedprice * 100) AS BIGINT)
              END) AS HUGEINT) AS s_c
          FROM lineitem WHERE l_returnflag IS NOT NULL
            AND l_suppkey IS NOT NULL AND l_extendedprice IS NOT NULL
          GROUP BY 1),
    d AS (SELECT h, n_t, n_c,
          CASE WHEN n_t > 0 AND n_c > 0 THEN
            CAST(round(1000000 * (CAST(s_t AS DOUBLE) / CAST(n_t AS DOUBLE)
              - CAST(s_c AS DOUBLE) / CAST(n_c AS DOUBLE))) AS BIGINT)
          END AS diff_micro FROM per),
    tot AS (SELECT CAST(sum(n_t + n_c) AS BIGINT) AS n_inc,
          CAST(sum(CAST(n_t + n_c AS HUGEINT) * diff_micro) AS HUGEINT)
            AS wsum
          FROM d WHERE diff_micro IS NOT NULL)
    SELECT h AS l_returnflag, n_t, n_c, diff_micro,
      CASE WHEN diff_micro IS NOT NULL AND n_inc > 0
        THEN CAST((1000000 * (n_t + n_c)) // n_inc AS BIGINT)
      END AS weight_ppm,
      CASE WHEN n_inc > 0 THEN
        CAST(CASE WHEN wsum >= 0 THEN wsum // n_inc
          ELSE -((-wsum) // n_inc) END AS BIGINT)
      END AS ate_micro
    FROM d, tot"""

  // —————————————————————————————— Mantel–Haenszel OR (q352)
  // (customer-parity exposure vs finished-order outcome pooled across
  //  priority strata — the confounding-immune odds ratio.)
  val q352MantelHaenszel: Q = (s, dir) =>
    Analytics.mantelHaenszel(
      Tables.orders(s, dir)
        .where(col("o_orderpriority").isNotNull &&
          col("o_custkey").isNotNull && col("o_orderstatus").isNotNull)
        .select(col("o_orderpriority"),
          (col("o_custkey") % 2 === 0).as("t"),
          (col("o_orderstatus") === "F").as("y")),
      "o_orderpriority", "t", "y")
  private val q352Sql: String = """
    WITH per AS (SELECT o_orderpriority AS h,
            CAST(sum(CASE WHEN o_custkey % 2 = 0
              AND o_orderstatus = 'F' THEN 1 ELSE 0 END) AS BIGINT) AS a,
            CAST(sum(CASE WHEN o_custkey % 2 = 0
              AND o_orderstatus <> 'F' THEN 1 ELSE 0 END) AS BIGINT) AS b,
            CAST(sum(CASE WHEN o_custkey % 2 = 1
              AND o_orderstatus = 'F' THEN 1 ELSE 0 END) AS BIGINT) AS c,
            CAST(sum(CASE WHEN o_custkey % 2 = 1
              AND o_orderstatus <> 'F' THEN 1 ELSE 0 END) AS BIGINT) AS d
          FROM orders WHERE o_orderpriority IS NOT NULL
            AND o_custkey IS NOT NULL AND o_orderstatus IS NOT NULL
          GROUP BY 1),
    t AS (SELECT h, a + b + c + d AS n,
          CAST(round(1000000 * CAST(a AS DOUBLE) * d
            / CAST(a + b + c + d AS DOUBLE)) AS BIGINT) AS r_micro,
          CAST(round(1000000 * CAST(b AS DOUBLE) * c
            / CAST(a + b + c + d AS DOUBLE)) AS BIGINT) AS s_micro
          FROM per WHERE a + b + c + d > 0)
    SELECT CAST(count(*) AS BIGINT) AS n_strata,
      CAST(sum(r_micro) AS BIGINT) AS r_micro,
      CAST(sum(s_micro) AS BIGINT) AS s_micro,
      CASE WHEN sum(s_micro) > 0 THEN
        round(CAST(sum(r_micro) AS DOUBLE)
          / CAST(sum(s_micro) AS DOUBLE), 6) END AS or_mh
    FROM t"""

  // —————————————————————————————— cost-optimal threshold (q353)
  // (n_chars as the English-detector score; FP 10× cheaper than FN —
  //  sweep every distinct score, release the argmin, ties pin low.)
  val q353OptimalThreshold: Q = (s, dir) =>
    Evaluation.optimalThreshold(
      Tables.documents(s, dir)
        .where(col("n_chars").isNotNull && col("lang").isNotNull)
        .select(col("n_chars").as("score"),
          (col("lang") === "en").as("y")),
      "score", "y", costFpPpm = 100000L, costFnPpm = 900000L)
  private val q353Sql: String = """
    WITH bs AS (SELECT CAST(n_chars AS BIGINT) AS score,
            CAST(count(*) AS BIGINT) AS n,
            CAST(sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS BIGINT)
              AS pos
          FROM documents WHERE n_chars IS NOT NULL AND lang IS NOT NULL
          GROUP BY 1),
    tot AS (SELECT CAST(sum(n) AS BIGINT) AS _n,
          CAST(sum(pos) AS BIGINT) AS _p FROM bs),
    cum AS (SELECT score,
          CAST(sum(n) OVER (ORDER BY score DESC) AS BIGINT) AS cum_n,
          CAST(sum(pos) OVER (ORDER BY score DESC) AS BIGINT) AS cum_pos
          FROM bs),
    c AS (SELECT score AS threshold, cum_n - cum_pos AS fp,
          _p - cum_pos AS fn, _n AS n, _p AS n_pos,
          (cum_n - cum_pos) * 100000 + (_p - cum_pos) * 900000
            AS cost_ppm
          FROM cum, tot)
    SELECT threshold, fp, fn, n, n_pos, cost_ppm
    FROM c ORDER BY cost_ppm ASC, threshold ASC LIMIT 1"""

  // —————————————————————————————— Wald–Wolfowitz runs test (q354)
  // (is user-parity randomly interleaved along each event_type's
  //  timeline? Exact run counts, pinned double z.)
  val q354RunsTest: Q = (s, dir) =>
    Analytics.runsTest(
      Tables.events(s, dir)
        .where(col("event_type").isNotNull && col("ts").isNotNull &&
          col("event_id").isNotNull && col("user_id").isNotNull)
        .select(col("event_type"), unix_micros(col("ts")).as("o"),
          col("event_id").as("tie"), (col("user_id") % 2 === 0).as("x")),
      "event_type", "o", "tie", "x")
  private val q354Sql: String = """
    WITH b AS (SELECT event_type AS k, epoch_us(ts) AS o,
            event_id AS tie, user_id % 2 = 0 AS x
          FROM events WHERE event_type IS NOT NULL AND ts IS NOT NULL
            AND event_id IS NOT NULL AND user_id IS NOT NULL),
    r AS (SELECT k, x, CASE WHEN lag(x) OVER w IS NULL
            OR lag(x) OVER w <> x THEN 1 ELSE 0 END AS chg
          FROM b WINDOW w AS (PARTITION BY k ORDER BY o, tie)),
    g AS (SELECT k, CAST(count(*) AS BIGINT) AS n,
          CAST(sum(CASE WHEN x THEN 1 ELSE 0 END) AS BIGINT) AS n1,
          CAST(sum(chg) AS BIGINT) AS runs FROM r GROUP BY 1)
    SELECT k AS event_type, n, n1, n - n1 AS n0, runs,
      CASE WHEN n1 > 0 AND n - n1 > 0 AND n > 1 THEN
        round((CAST(runs AS DOUBLE)
          - (1.0 + (2.0 * CAST(n1 AS DOUBLE) * CAST(n - n1 AS DOUBLE))
            / CAST(n AS DOUBLE)))
        / sqrt(((2.0 * CAST(n1 AS DOUBLE) * CAST(n - n1 AS DOUBLE))
            * ((2.0 * CAST(n1 AS DOUBLE) * CAST(n - n1 AS DOUBLE))
              - CAST(n AS DOUBLE)))
          / ((CAST(n AS DOUBLE) * CAST(n AS DOUBLE))
            * (CAST(n AS DOUBLE) - 1.0))), 6)
      END AS z
    FROM g"""

  // —————————————————————————————— Theil's U (q355)
  // (does source determine language or vice versa? MI over each
  //  margin's entropy — the asymmetric association q271/q293 hide.)
  val q355TheilsU: Q = (s, dir) =>
    Analytics.theilsU(Tables.documents(s, dir), "source", "lang")
  private val q355Sql: String = """
    WITH cl AS (SELECT source AS x, lang AS y,
            CAST(count(*) AS BIGINT) AS nxy
          FROM documents GROUP BY 1, 2),
    rx AS (SELECT x AS mx, CAST(sum(nxy) AS BIGINT) AS r
          FROM cl GROUP BY 1),
    cy AS (SELECT y AS my, CAST(sum(nxy) AS BIGINT) AS c
          FROM cl GROUP BY 1),
    nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM documents),
    mi AS (SELECT (SELECT n FROM nn) AS n,
          CAST(count(*) AS BIGINT) AS occupied_cells,
          sum((CAST(nxy AS DOUBLE) / (SELECT n FROM nn)) *
            ln((CAST((SELECT n FROM nn) AS DOUBLE) * nxy) /
              (CAST(r AS DOUBLE) * c))) AS _mi
          FROM cl
          JOIN rx ON x IS NOT DISTINCT FROM mx
          JOIN cy ON y IS NOT DISTINCT FROM my),
    ha AS (SELECT sum((CAST(r AS DOUBLE) / (SELECT n FROM nn)) * -1.0 *
          ln(CAST(r AS DOUBLE) / (SELECT n FROM nn))) AS _ha FROM rx),
    hb AS (SELECT sum((CAST(c AS DOUBLE) / (SELECT n FROM nn)) * -1.0 *
          ln(CAST(c AS DOUBLE) / (SELECT n FROM nn))) AS _hb FROM cy)
    SELECT 'source' AS col_a, 'lang' AS col_b, n, occupied_cells,
      round(_mi, 6) AS mi_nats,
      CASE WHEN _ha > 0 THEN round(_mi / _ha, 6) END AS u_a_given_b,
      CASE WHEN _hb > 0 THEN round(_mi / _hb, 6) END AS u_b_given_a
    FROM mi, ha, hb"""

  // —————————————————————————————— periodogram (q356)
  // (which cycle dominates each event_type's hourly series —
  //  integer-pinned DFT amplitudes over the dense lattice, p = 2..48.)
  val q356Periodogram: Q = (s, dir) =>
    TimeSeries.periodogram(Tables.events(s, dir), "ts", "event_type",
      maxPeriod = 48)
  private val q356Sql: String = """
    WITH c AS (SELECT epoch_us(ts) // 3600000000 AS h, event_type AS et,
            CAST(count(*) AS BIGINT) AS c
          FROM events WHERE ts IS NOT NULL AND event_type IS NOT NULL
          GROUP BY 1, 2),
    sp AS (SELECT min(h) AS h0, max(h) AS h1 FROM c),
    lat AS (SELECT h0, unnest(range(h0, h1 + 1)) AS h FROM sp),
    ty AS (SELECT DISTINCT et FROM c),
    d AS (SELECT ty.et, lat.h - lat.h0 AS t, coalesce(c.c, 0) AS x
          FROM lat CROSS JOIN ty
          LEFT JOIN c ON c.h = lat.h AND c.et = ty.et),
    pt AS (SELECT et, CAST(count(*) AS BIGINT) AS n,
          CAST(sum(x) AS HUGEINT) AS s FROM d GROUP BY 1),
    pr AS (SELECT unnest(range(2, 49)) AS p),
    cells AS (SELECT d.et, p, n,
          CAST(n AS HUGEINT) * x - s AS ct,
          CAST(round(1000000 * cos(((2.0 * 3.141592653589793)
            * (t % p)) / p)) AS BIGINT) AS cosu,
          CAST(round(1000000 * sin(((2.0 * 3.141592653589793)
            * (t % p)) / p)) AS BIGINT) AS sinu
          FROM d JOIN pt ON d.et = pt.et CROSS JOIN pr),
    ag AS (SELECT et, p, max(n) AS n,
          CAST(sum(ct * cosu) AS HUGEINT) AS sc,
          CAST(sum(ct * sinu) AS HUGEINT) AS ss
          FROM cells GROUP BY 1, 2),
    am AS (SELECT et, p, n,
          CAST(round((2000.0 * sqrt(CAST(sc AS DOUBLE) * CAST(sc AS DOUBLE)
              + CAST(ss AS DOUBLE) * CAST(ss AS DOUBLE)))
            / ((CAST(n AS DOUBLE) * CAST(n AS DOUBLE)) * 1000000.0))
            AS BIGINT) AS amp_milli
          FROM ag)
    SELECT et AS event_type, CAST(p AS BIGINT) AS p, n, amp_milli,
      row_number() OVER (PARTITION BY et
        ORDER BY amp_milli DESC, p ASC) = 1 AS is_dominant
    FROM am"""

  // —————————————————————————————— time-series CV folds (q357)
  // (expanding-window backtest split: 5 folds × 48 h tiling test
  //  windows, exact counts, leak-free audit bit.)
  val q357TsFolds: Q = (s, dir) =>
    TimeSeries.timeSeriesFolds(Tables.events(s, dir), "ts",
      nFolds = 5, testHours = 48)
  private val q357Sql: String = """
    WITH c AS (SELECT epoch_us(ts) // 3600000000 AS h,
            CAST(count(*) AS BIGINT) AS c
          FROM events WHERE ts IS NOT NULL GROUP BY 1),
    sp AS (SELECT max(h) AS h1 FROM c),
    fd AS (SELECT fold, h1 + 1 - (5 - fold) * 48 - 48 AS cut_h
          FROM (SELECT unnest(range(1, 6)) AS fold, h1 FROM sp))
    SELECT CAST(fold AS BIGINT) AS fold, cut_h,
      CAST(sum(CASE WHEN h < cut_h THEN c.c ELSE 0 END) AS BIGINT)
        AS n_train,
      CAST(sum(CASE WHEN h >= cut_h AND h < cut_h + 48
        THEN c.c ELSE 0 END) AS BIGINT) AS n_test,
      max(CASE WHEN h < cut_h THEN h END) AS train_end_h,
      min(CASE WHEN h >= cut_h AND h < cut_h + 48 THEN h END)
        AS test_start_h,
      (max(CASE WHEN h < cut_h THEN h END) IS NULL
        OR min(CASE WHEN h >= cut_h AND h < cut_h + 48 THEN h END)
          IS NULL
        OR max(CASE WHEN h < cut_h THEN h END)
          < min(CASE WHEN h >= cut_h AND h < cut_h + 48 THEN h END))
        AS leak_free
    FROM c CROSS JOIN fd GROUP BY 1, 2"""

  // —————————————————————————————— funnel latency percentiles (q358)
  // (how long view→click takes inside a session: exact type-1
  //  percentiles of converted-session latency, value-aligned, no
  //  interpolation. toStep = 2 — the synthetic stream has no full
  //  3-step conversions at sf0.01, but 23 first transitions.)
  val q358FunnelLatency: Q = (s, dir) =>
    Analytics.funnelLatency(Tables.events(s, dir),
      Seq("view", "click", "purchase"), toStep = 2)
  private val q358Sql: String = """
    WITH g AS (
      SELECT user_id, event_id, event_type, epoch_us(ts) AS us,
        CASE WHEN lag(epoch_us(ts)) OVER w IS NULL
                  OR epoch_us(ts) - lag(epoch_us(ts)) OVER w >= 1800000000
             THEN 1 ELSE 0 END AS new_s
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts), event_id)),
    s AS (SELECT user_id, event_type, us, event_id,
        CAST(sum(new_s) OVER (PARTITION BY user_id ORDER BY us, event_id
          ROWS UNBOUNDED PRECEDING) AS BIGINT) AS sess
      FROM g),
    f1 AS (SELECT *, min(CASE WHEN event_type = 'view' THEN us END)
             OVER (PARTITION BY user_id, sess) AS s1 FROM s),
    f2 AS (SELECT *, min(CASE WHEN event_type = 'click' AND us > s1
             THEN us END) OVER (PARTITION BY user_id, sess) AS s2
           FROM f1),
    f3 AS (SELECT *, min(CASE WHEN event_type = 'purchase' AND us > s2
             THEN us END) OVER (PARTITION BY user_id, sess) AS s3
           FROM f2),
    conv AS (SELECT DISTINCT user_id, sess,
          s1 // 1000 AS m1, s2 // 1000 AS m2
          FROM f3 WHERE s2 IS NOT NULL),
    l AS (SELECT m2 - m1 AS lat_ms FROM conv),
    bv AS (SELECT lat_ms, CAST(count(*) AS BIGINT) AS c
          FROM l GROUP BY 1),
    cm AS (SELECT lat_ms, CAST(sum(c) OVER (ORDER BY lat_ms) AS BIGINT)
          AS cum FROM bv),
    t AS (SELECT CAST(sum(c) AS BIGINT) AS n_converted FROM bv),
    p AS (SELECT unnest([50, 90, 99]) AS pct)
    SELECT CAST(pct AS BIGINT) AS pct, n_converted,
      CAST(min(lat_ms) AS BIGINT) AS latency_ms
    FROM p CROSS JOIN t
    JOIN cm ON cm.cum >= (pct * n_converted + 99) // 100
    GROUP BY 1, 2"""

  val all: Map[String, Q] = Map(
    "q358_funnel_latency" -> q358FunnelLatency,
    "q357_ts_folds" -> q357TsFolds,
    "q356_periodogram" -> q356Periodogram,
    "q354_runs_test" -> q354RunsTest,
    "q355_theils_u" -> q355TheilsU,
    "q351_stratified_ate" -> q351StratifiedAte,
    "q352_mantel_haenszel" -> q352MantelHaenszel,
    "q353_optimal_threshold" -> q353OptimalThreshold,
    "q346_sample_size" -> q346SampleSize,
    "q347_calibration_error" -> q347CalibrationError,
    "q348_weighted_kappa" -> q348WeightedKappa,
    "q349_holm" -> q349Holm,
    "q350_loo_influence" -> q350LooInfluence,
    "q340_cuped" -> q340Cuped,
    "q341_uplift" -> q341Uplift,
    "q342_blocking_quality" -> q342BlockingQuality,
    "q343_local_clustering" -> q343LocalClustering,
    "q344_pinball" -> q344Pinball,
    "q345_theil" -> q345Theil,
    "q333_diff_in_diff" -> q333DiffInDiff,
    "q334_episode_support" -> q334EpisodeSupport,
    "q335_neyman_allocation" -> q335NeymanAllocation,
    "q336_key_candidates" -> q336KeyCandidates,
    "q337_tokenizer_fertility" -> q337TokenizerFertility,
    "q338_greedy_cover" -> q338GreedyCover,
    "q339_seasonal_naive" -> q339SeasonalNaive,
    "q325_assortativity" -> q325Assortativity,
    "q326_basket_rules" -> q326BasketRules,
    "q327_cross_correlation" -> q327CrossCorrelation,
    "q328_burstiness" -> q328Burstiness,
    "q329_wasserstein" -> q329Wasserstein,
    "q330_readability" -> q330Readability,
    "q331_rich_club" -> q331RichClub,
    "q332_position_attribution" -> q332PositionAttribution,
    "q317_mcnemar" -> q317Mcnemar,
    "q318_cochran_q" -> q318CochranQ,
    "q319_rbo" -> q319Rbo,
    "q320_gains" -> q320Gains,
    "q321_woe_iv" -> q321WoeIv,
    "q322_rfm" -> q322Rfm,
    "q323_dispersion" -> q323Dispersion,
    "q324_snm_pairs" -> q324SnmPairs,
    "q309_bh_fdr" -> q309BhFdr,
    "q310_null_cooccur" -> q310NullCooccur,
    "q311_entropy_rate" -> q311EntropyRate,
    "q312_hill_tail" -> q312HillTail,
    "q313_hhi" -> q313Hhi,
    "q314_srm" -> q314Srm,
    "q315_mann_whitney" -> q315MannWhitney,
    "q316_js_divergence" -> q316JsDivergence,
    "q301_fleiss" -> q301Fleiss,
    "q302_vocab_growth" -> q302VocabGrowth,
    "q303_vocab_coverage" -> q303VocabCoverage,
    "q304_kfold" -> q304KFold,
    "q305_markov_stationary" -> q305MarkovStationary,
    "q306_roc_curve" -> q306RocCurve,
    "q307_sprt" -> q307Sprt,
    "q308_curriculum" -> q308Curriculum,
    "q298_cooccurrence" -> q298Cooccurrence,
    "q299_embedding_outliers" -> q299EmbeddingOutliers,
    "q300_dwell" -> q300Dwell,
    "q295_novelty" -> q295Novelty,
    "q296_borda" -> q296Borda,
    "q297_boilerplate" -> q297Boilerplate,
    "q292_classification" -> q292Classification,
    "q293_mutual_info" -> q293MutualInfo,
    "q294_kaplan_meier" -> q294KaplanMeier,
    "q288_interpolate" -> q288Interpolate,
    "q289_resume_sessions" -> q289ResumeSessions,
    "q285_zone_map" -> q285ZoneMap,
    "q286_join_plan" -> q286JoinPlan,
    "q287_forget_audit" -> q287ForgetAudit,
    "q282_encoding_audit" -> q282EncodingAudit,
    "q283_script_mix" -> q283ScriptMix,
    "q284_simpson_flip" -> q284SimpsonFlip,
    "q278_kendall_tau" -> q278KendallTau,
    "q279_isotonic" -> q279Isotonic,
    "q280_krippendorff" -> q280Krippendorff,
    "q281_theil_sen" -> q281TheilSen,
    "q276_pacf" -> q276Pacf,
    "q275_fs_em" -> q275FsEm,
    "q274_dp_bounded_counts" -> q274DpBoundedCounts,
    "q273_ra_link_pred" -> q273RaLinkPred,
    "q272_bradley_terry" -> q272BradleyTerry,
    "q270_autocorrelation" -> q270Autocorrelation,
    "q271_cramers_v" -> q271CramersV,
    "q269_nn_descent" -> q269NnDescent,
    "q267_cdc_chunk_dedup" -> q267CdcChunkDedup,
    "q268_average_precision" -> q268AveragePrecision,
    "q212_t_closeness" -> q212TCloseness,
    "q213_group_auc" -> q213GroupAuc,
    "q209_fs_linkage" -> q209FsLinkage,
    "q210_zipf" -> q210Zipf,
    "q211_gini_split" -> q211GiniSplit,
    "q206_skew_profile" -> q206SkewProfile,
    "q207_ivf_recall" -> q207IvfRecall,
    "q208_negative_sample" -> q208NegativeSample,
    "q197_textrank" -> q197TextRank,
    "q198_subtree_rollup" -> q198SubtreeRollup,
    "q199_l_diversity" -> q199LDiversity,
    "q200_benford" -> q200Benford,
    "q201_orc_roundtrip" -> q201OrcRoundtrip,
    "q202_feature_hash" -> q202FeatureHash,
    "q203_label_propagation" -> q203LabelPropagation,
    "q204_downsample" -> q204Downsample,
    "q205_cms_join_size" -> q205CmsJoinSize,
    "q217_jsonl_roundtrip" -> q217JsonRoundtrip,
    "q219_avro_roundtrip" -> q219AvroRoundtrip,
    "q221_spearman" -> q221Spearman,
    "q223_kmv_membership_intersect" -> q223KmvSetOps,
    "q224_profile_drift" -> q224ProfileDrift,
    "q225_incremental_agg" -> q225IncrementalAgg,
    "q227_lateness_profile" -> q227LatenessProfile,
    "q228_mean_pool" -> q228MeanPool,
    "q230_ivf_delete" -> q230IvfDelete,
    "q231_psi_drift" -> q231PsiDrift,
    "q232_conformal" -> q232Conformal,
    "q233_diversified_topk" -> q233DiversifiedTopK,
    "q234_seasonal_decompose" -> q234SeasonalDecompose,
    "q235_fd_audit" -> q235FdAudit,
    "q237_pareto_frontier" -> q237ParetoFrontier,
    "q238_compaction_plan" -> q238CompactionPlan,
    "q239_random_projection" -> q239RandomProjection,
    "q240_embedding_drift" -> q240EmbeddingDrift,
    "q241_expectations" -> q241Expectations,
    "q242_speech_segments" -> q242SpeechSegments,
    "q243_salted_join" -> q243SaltedJoin,
    "q244_feature_propagation" -> q244FeaturePropagation,
    "q245_hll_rollup" -> q245HllRollup,
    "q246_residual_anomalies" -> q246ResidualAnomalies,
    "q247_bloom_join" -> q247BloomJoin,
    "q248_loudness_gain" -> q248LoudnessGain,
    "q249_sliding_hll" -> q249SlidingHll,
    "q250_scd2_audit" -> q250Scd2Audit,
    "q251_watermark_plan" -> q251WatermarkPlan,
    "q252_bfs_distances" -> q252BfsDistances,
    "q253_target_encode" -> q253TargetEncode,
    "q254_mips" -> q254Mips,
    "q255_generalization_ladder" -> q255GeneralizationLadder,
    "q256_ivf_fsck" -> q256IvfFsck,
    "q257_truncation_recall" -> q257TruncationRecall,
    "q258_water_fill" -> q258WaterFill,
    "q259_weighted_percentiles" -> q259WeightedPercentiles,
    "q260_reshard_movement" -> q260ReshardMovement,
    "q261_asof_tolerance" -> q261AsofTolerance,
    "q262_exact_k_sample" -> q262ExactKSample,
    "q263_survivorship_merge" -> q263SurvivorshipMerge,
    "q264_bitemporal_asof" -> q264BitemporalAsOf,
    "q265_nprobe_ladder" -> q265NprobeLadder,
    "q266_decayed_engagement" -> q266DecayedEngagement)

  val oracles: Map[String, String] = Map(
    "q358_funnel_latency" -> q358Sql,
    "q357_ts_folds" -> q357Sql,
    "q356_periodogram" -> q356Sql,
    "q354_runs_test" -> q354Sql,
    "q355_theils_u" -> q355Sql,
    "q351_stratified_ate" -> q351Sql,
    "q352_mantel_haenszel" -> q352Sql,
    "q353_optimal_threshold" -> q353Sql,
    "q346_sample_size" -> q346Sql,
    "q347_calibration_error" -> q347Sql,
    "q348_weighted_kappa" -> q348Sql,
    "q349_holm" -> q349Sql,
    "q350_loo_influence" -> q350Sql,
    "q340_cuped" -> q340Sql,
    "q341_uplift" -> q341Sql,
    "q342_blocking_quality" -> q342Sql,
    "q343_local_clustering" -> q343Sql,
    "q344_pinball" -> q344Sql,
    "q345_theil" -> q345Sql,
    "q333_diff_in_diff" -> q333Sql,
    "q334_episode_support" -> q334Sql,
    "q335_neyman_allocation" -> q335Sql,
    "q336_key_candidates" -> q336Sql,
    "q337_tokenizer_fertility" -> q337Sql,
    "q338_greedy_cover" -> q338Sql,
    "q339_seasonal_naive" -> q339Sql,
    "q325_assortativity" -> q325Sql,
    "q326_basket_rules" -> q326Sql,
    "q327_cross_correlation" -> q327Sql,
    "q328_burstiness" -> q328Sql,
    "q329_wasserstein" -> q329Sql,
    "q330_readability" -> q330Sql,
    "q331_rich_club" -> q331Sql,
    "q332_position_attribution" -> q332Sql,
    "q317_mcnemar" -> q317Sql,
    "q318_cochran_q" -> q318Sql,
    "q319_rbo" -> q319Sql,
    "q320_gains" -> q320Sql,
    "q321_woe_iv" -> q321Sql,
    "q322_rfm" -> q322Sql,
    "q323_dispersion" -> q323Sql,
    "q324_snm_pairs" -> q324Sql,
    "q309_bh_fdr" -> q309Sql,
    "q310_null_cooccur" -> q310Sql,
    "q311_entropy_rate" -> q311Sql,
    "q312_hill_tail" -> q312Sql,
    "q313_hhi" -> q313Sql,
    "q314_srm" -> q314Sql,
    "q315_mann_whitney" -> q315Sql,
    "q316_js_divergence" -> q316Sql,
    "q301_fleiss" -> q301Sql,
    "q302_vocab_growth" -> q302Sql,
    "q303_vocab_coverage" -> q303Sql,
    "q304_kfold" -> q304Sql,
    "q305_markov_stationary" -> q305Sql,
    "q306_roc_curve" -> q306Sql,
    "q307_sprt" -> q307Sql,
    "q308_curriculum" -> q308Sql,
    "q298_cooccurrence" -> q298Sql,
    "q299_embedding_outliers" -> q299Sql,
    "q300_dwell" -> q300Sql,
    "q295_novelty" -> q295Sql,
    "q296_borda" -> q296Sql,
    "q297_boilerplate" -> q297Sql,
    "q292_classification" -> q292Sql,
    "q293_mutual_info" -> q293Sql,
    "q294_kaplan_meier" -> q294Sql,
    "q288_interpolate" -> q288Sql,
    "q289_resume_sessions" -> q289Sql,
    "q285_zone_map" -> q285Sql,
    "q286_join_plan" -> q286Sql,
    "q287_forget_audit" -> q287Sql,
    "q282_encoding_audit" -> q282Sql,
    "q283_script_mix" -> q283Sql,
    "q284_simpson_flip" -> q284Sql,
    "q278_kendall_tau" -> q278Sql,
    "q279_isotonic" -> q279Sql,
    "q280_krippendorff" -> q280Sql,
    "q281_theil_sen" -> q281Sql,
    "q276_pacf" -> q276Sql,
    "q275_fs_em" -> q275Sql,
    "q274_dp_bounded_counts" -> q274Sql,
    "q273_ra_link_pred" -> q273Sql,
    "q272_bradley_terry" -> q272Sql,
    "q270_autocorrelation" -> q270Sql,
    "q271_cramers_v" -> q271Sql,
    "q269_nn_descent" -> q269Sql,
    "q267_cdc_chunk_dedup" -> q267Sql,
    "q268_average_precision" -> q268Sql,
    "q212_t_closeness" -> q212Sql,
    "q213_group_auc" -> q213Sql,
    "q209_fs_linkage" -> q209Sql,
    "q210_zipf" -> q210Sql,
    "q211_gini_split" -> q211Sql,
    "q206_skew_profile" -> q206Sql,
    "q207_ivf_recall" -> q207Sql,
    "q208_negative_sample" -> q208Sql,
    "q197_textrank" -> q197Sql,
    "q198_subtree_rollup" -> q198Sql,
    "q199_l_diversity" -> q199Sql,
    "q200_benford" -> q200Sql,
    "q201_orc_roundtrip" -> q201Sql,
    "q217_jsonl_roundtrip" -> q217Sql,
    "q219_avro_roundtrip" -> q219Sql,
    "q221_spearman" -> q221Sql,
    "q223_kmv_membership_intersect" -> q223Sql,
    "q224_profile_drift" -> q224Sql,
    "q225_incremental_agg" -> q225Sql,
    "q227_lateness_profile" -> q227Sql,
    "q228_mean_pool" -> q228Sql,
    "q230_ivf_delete" -> q230Sql,
    "q231_psi_drift" -> q231Sql,
    "q232_conformal" -> q232Sql,
    "q233_diversified_topk" -> q233Sql,
    "q234_seasonal_decompose" -> q234Sql,
    "q235_fd_audit" -> q235Sql,
    "q237_pareto_frontier" -> q237Sql,
    "q238_compaction_plan" -> q238Sql,
    "q239_random_projection" -> q239Sql,
    "q240_embedding_drift" -> q240Sql,
    "q241_expectations" -> q241Sql,
    "q242_speech_segments" -> q242Sql,
    "q243_salted_join" -> q243Sql,
    "q244_feature_propagation" -> q244Sql,
    "q245_hll_rollup" -> q245Sql,
    "q246_residual_anomalies" -> q246Sql,
    "q247_bloom_join" -> q247Sql,
    "q248_loudness_gain" -> q248Sql,
    "q249_sliding_hll" -> q249Sql,
    "q250_scd2_audit" -> q250Sql,
    "q251_watermark_plan" -> q251Sql,
    "q252_bfs_distances" -> q252Sql,
    "q253_target_encode" -> q253Sql,
    "q254_mips" -> q254Sql,
    "q255_generalization_ladder" -> q255Sql,
    "q256_ivf_fsck" -> q256Sql,
    "q257_truncation_recall" -> q257Sql,
    "q258_water_fill" -> q258Sql,
    "q259_weighted_percentiles" -> q259Sql,
    "q260_reshard_movement" -> q260Sql,
    "q261_asof_tolerance" -> q261Sql,
    "q262_exact_k_sample" -> q262Sql,
    "q263_survivorship_merge" -> q263Sql,
    "q264_bitemporal_asof" -> q264Sql,
    "q265_nprobe_ladder" -> q265Sql,
    "q266_decayed_engagement" -> q266Sql,
    "q202_feature_hash" -> q202Sql,
    "q203_label_propagation" -> q203Sql,
    "q204_downsample" -> q204Sql,
    "q205_cms_join_size" -> q205Sql)
}
