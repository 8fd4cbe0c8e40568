package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Engine._
import graft.QueryPack

/** Similarity-search operators over the `embeddings` table
  * (`vec_id: bigint, embedding: array<float>, label: int`):
  * vector statistics, brute-force cosine top-k (the exactness baseline),
  * random-hyperplane LSH bucketing + bucket-local ANN (the scale path),
  * IVF cell assignment, and a kNN label-vote classifier.
  *
  * Cross-engine determinism: every dot product casts each float element to
  * DOUBLE and folds left-to-right (`aggregate` in Spark, `list_reduce` in
  * DuckDB — both are sequential left folds, and `0.0 + x == x` in IEEE, so
  * the two folds are bit-identical); similarities are rounded to 6 digits
  * BEFORE any ordering/threshold so ranking ties resolve identically.
  *
  * Scale design (100 TB / billions of vectors):
  *  - brute-force top-k is one narrow map (per-pair fold, no shuffle
  *    beyond the query-broadcast join) — correct but O(N·Q); it is the
  *    oracle for the approximate paths, not the production path;
  *  - LSH buckets are computed per-vector in one narrow pass (8 sign
  *    bits => one small int), so the candidate join shuffles only
  *    (bucket, id) pairs and pair generation is bucket-local — at corpus
  *    scale you'd cap bucket width and union several hash tables;
  *  - IVF assignment is a broadcast join against a tiny centroid set
  *    (here: the first 4 vectors; in production: k-means output), again
  *    narrow per vector; probe cost is |cell|, not N.
  */
object Similarity extends QueryPack {

  /** Left-fold dot product of two float arrays in DOUBLE — Spark side:
    * the codegen'd [[graft.functions.FloatDotProduct]] expression, whose
    * IEEE sequence is identical to the HOF fold and the DuckDB
    * `list_reduce` below.
    */
  private def dotS(a: String, b: String): String = s"graft_dot($a, $b)"

  /** Same fold — DuckDB dialect (1-indexed lists). */
  private def dotD(a: String, b: String): String =
    s"list_reduce(list_transform(range(1, len($a) + 1)," +
      s" i -> CAST($a[i] AS DOUBLE) * CAST($b[i] AS DOUBLE)), (x, y) -> x + y)"

  /** Sum of one double-cast array — Spark / DuckDB. */
  private def sumS(a: String): String =
    s"aggregate($a, cast(0.0 as double), (acc, v) -> acc + cast(v as double))"
  private def sumD(a: String): String =
    s"list_reduce(list_transform(range(1, len($a) + 1)," +
      s" i -> CAST($a[i] AS DOUBLE)), (x, y) -> x + y)"

  // -- sim_norms: per-vector statistics ---------------------------------------
  private def simNorms(s: SparkSession, dir: String): DataFrame = {
    table(s, dir, "embeddings")
      .selectExpr("vec_id", "label",
        "cast(size(embedding) as bigint) AS dim",
        s"round(sqrt(${dotS("embedding", "embedding")}), 6) AS l2_norm",
        s"round(${sumS("embedding")} / size(embedding), 6) AS mean_val")
      .orderBy(col("vec_id"))
  }

  private val simNormsSql =
    s"""SELECT vec_id, label, len(embedding) AS dim,
       |  round(sqrt(${dotD("embedding", "embedding")}), 6) AS l2_norm,
       |  round(${sumD("embedding")} / len(embedding), 6) AS mean_val
       |FROM embeddings ORDER BY vec_id""".stripMargin

  // -- sim_topk_brute: exact cosine top-5 for the first 8 query vectors -------
  private def simTopkBrute(s: SparkSession, dir: String): DataFrame = {
    table(s, dir, "embeddings")
      .selectExpr("vec_id", "embedding",
        s"${dotS("embedding", "embedding")} AS n2")
      .createOrReplaceTempView("sim_e")
    s.sql(
      s"""SELECT query_id, neighbor_id, cos_sim,
         |  cast(rnk as bigint) AS rnk FROM (
         |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         |    round(${dotS("q.embedding", "c.embedding")}
         |      / sqrt(q.n2 * c.n2), 6) AS cos_sim,
         |    row_number() OVER (PARTITION BY q.vec_id
         |      ORDER BY round(${dotS("q.embedding", "c.embedding")}
         |        / sqrt(q.n2 * c.n2), 6) DESC, c.vec_id) AS rnk
         |  FROM sim_e q JOIN sim_e c ON q.vec_id < 8 AND c.vec_id <> q.vec_id)
         |WHERE rnk <= 5 ORDER BY query_id, rnk""".stripMargin)
  }

  private val simTopkBruteSql =
    s"""WITH e AS (SELECT vec_id, embedding,
       |  ${dotD("embedding", "embedding")} AS n2 FROM embeddings)
       |SELECT query_id, neighbor_id, cos_sim, rnk FROM (
       |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
       |    round(${dotD("q.embedding", "c.embedding")}
       |      / sqrt(q.n2 * c.n2), 6) AS cos_sim,
       |    row_number() OVER (PARTITION BY q.vec_id
       |      ORDER BY round(${dotD("q.embedding", "c.embedding")}
       |        / sqrt(q.n2 * c.n2), 6) DESC, c.vec_id) AS rnk
       |  FROM e q JOIN e c ON q.vec_id < 8 AND c.vec_id <> q.vec_id)
       |WHERE rnk <= 5 ORDER BY query_id, rnk""".stripMargin

  // -- sim_range_search: broadcast radius search ------------------------------
  // The other retrieval primitive next to top-k: ALL vectors within a
  // cosine radius of each query (dedup-threshold lookups, recall
  // harvesting, near-neighbor audits). The query set is SMALL by
  // definition of the use case (here vec_id < 8), so the scalable plan
  // is the one below: broadcast the query vectors, stream the corpus
  // through ONE scan computing the fused graft_dot kernel, filter at
  // the radius — no shuffle of the corpus at all, perfectly
  // embarrassingly parallel, and adding executors divides wall-clock
  // linearly. (A bucketed variant only pays off once the query set
  // itself is large — that regime is sim_lsh_ann.) The explicit
  // BROADCAST hint pins the query side; the nested-loop is INTENDED
  // here: 8 fixed queries x corpus is linear work, unlike the labeled
  // all-pairs spec oracles.
  private def simRangeSearch(s: SparkSession, dir: String): DataFrame = {
    table(s, dir, "embeddings")
      .selectExpr("vec_id", "embedding",
        s"${dotS("embedding", "embedding")} AS n2")
      .createOrReplaceTempView("sim_re")
    s.sql(
      s"""SELECT query_id, neighbor_id, cos_sim FROM (
         |  SELECT /*+ BROADCAST(q) */ q.vec_id AS query_id,
         |    c.vec_id AS neighbor_id,
         |    round(${dotS("q.embedding", "c.embedding")}
         |      / sqrt(q.n2 * c.n2), 6) AS cos_sim
         |  FROM (SELECT * FROM sim_re WHERE vec_id < 8) q
         |  JOIN sim_re c ON c.vec_id <> q.vec_id)
         |WHERE cos_sim >= 0.3
         |ORDER BY query_id, neighbor_id""".stripMargin)
  }

  private val simRangeSearchSql =
    s"""WITH e AS (SELECT vec_id, embedding,
       |  ${dotD("embedding", "embedding")} AS n2 FROM embeddings)
       |SELECT query_id, neighbor_id, cos_sim FROM (
       |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
       |    round(${dotD("q.embedding", "c.embedding")}
       |      / sqrt(q.n2 * c.n2), 6) AS cos_sim
       |  FROM (SELECT * FROM e WHERE vec_id < 8) q
       |  JOIN e c ON c.vec_id <> q.vec_id)
       |WHERE cos_sim >= 0.3
       |ORDER BY query_id, neighbor_id""".stripMargin

  // -- sim_negatives: deterministic contrastive negative sampling -------------
  // Contrastive/embedding training needs, per anchor, a reproducible set
  // of NEGATIVES that are verifiably not near-duplicates of it. Per
  // query (the first 8 vectors): candidates are all vectors with cosine
  // BELOW 0.2 (outside the near-dup zone by margin), ranked by the
  // keyed hash md5(query_id:vec_id) — a per-query deterministic uniform
  // order, so negatives are uncorrelated across queries yet identical
  // on every rerun/engine — take 5. Same broadcast-queries shape as
  // sim_range_search: one corpus scan, windows partitioned per query,
  // nothing global.
  private def simNegatives(s: SparkSession, dir: String): DataFrame = {
    table(s, dir, "embeddings")
      .selectExpr("vec_id", "embedding",
        s"${dotS("embedding", "embedding")} AS n2")
      .createOrReplaceTempView("sim_ne")
    s.sql(
      s"""SELECT query_id, neg_id, rnk FROM (
         |  SELECT query_id, neg_id,
         |    cast(row_number() OVER (PARTITION BY query_id
         |      ORDER BY hk, neg_id) as bigint) AS rnk
         |  FROM (
         |    SELECT /*+ BROADCAST(q) */ q.vec_id AS query_id,
         |      c.vec_id AS neg_id,
         |      md5(concat(cast(q.vec_id as string), ':',
         |        cast(c.vec_id as string))) AS hk
         |    FROM (SELECT * FROM sim_ne WHERE vec_id < 8) q
         |    JOIN sim_ne c ON c.vec_id <> q.vec_id
         |    WHERE round(${dotS("q.embedding", "c.embedding")}
         |      / sqrt(q.n2 * c.n2), 6) < 0.2))
         |WHERE rnk <= 5 ORDER BY query_id, rnk""".stripMargin)
  }

  private val simNegativesSql =
    s"""WITH e AS (SELECT vec_id, embedding,
       |  ${dotD("embedding", "embedding")} AS n2 FROM embeddings)
       |SELECT query_id, neg_id, rnk FROM (
       |  SELECT query_id, neg_id,
       |    CAST(row_number() OVER (PARTITION BY query_id
       |      ORDER BY hk, neg_id) AS BIGINT) AS rnk
       |  FROM (
       |    SELECT q.vec_id AS query_id, c.vec_id AS neg_id,
       |      md5(CAST(q.vec_id AS VARCHAR) || ':' ||
       |        CAST(c.vec_id AS VARCHAR)) AS hk
       |    FROM (SELECT * FROM e WHERE vec_id < 8) q
       |    JOIN e c ON c.vec_id <> q.vec_id
       |    WHERE round(${dotD("q.embedding", "c.embedding")}
       |      / sqrt(q.n2 * c.n2), 6) < 0.2))
       |WHERE rnk <= 5 ORDER BY query_id, rnk""".stripMargin

  // -- random-hyperplane LSH ---------------------------------------------------
  // Plane j (0..7), 1-based component i: ((31*(j+1) + 7*(i-1)) % 11) - 5 —
  // deterministic integer-valued hyperplanes, identical text in both
  // dialects, so the sign bits (and buckets) agree bit-for-bit.
  private val Planes = 8

  private def planeDotS(j: Int): String =
    s"aggregate(transform(sequence(1, size(embedding)), i ->" +
      s" cast(element_at(embedding, i) as double)" +
      s" * cast((31 * ${j + 1} + 7 * (i - 1)) % 11 - 5 as double))," +
      s" cast(0.0 as double), (acc, v) -> acc + v)"

  private def planeDotD(j: Int): String =
    s"list_reduce(list_transform(range(1, len(embedding) + 1), i ->" +
      s" CAST(embedding[i] AS DOUBLE)" +
      s" * CAST((31 * ${j + 1} + 7 * (i - 1)) % 11 - 5 AS DOUBLE))," +
      s" (x, y) -> x + y)"

  private def bucketExpr(dot: Int => String): String =
    (0 until Planes)
      .map(j => s"(CASE WHEN ${dot(j)} > 0 THEN ${1 << j} ELSE 0 END)")
      .mkString(" + ")

  // -- sim_lsh_buckets: bucket histogram --------------------------------------
  private def simLshBuckets(s: SparkSession, dir: String): DataFrame = {
    table(s, dir, "embeddings")
      .selectExpr("vec_id", s"${bucketExpr(planeDotS)} AS bucket")
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n_vecs"), min(col("vec_id")).as("min_vec"))
      .orderBy(col("bucket"))
  }

  private val simLshBucketsSql =
    s"""SELECT bucket, COUNT(*) AS n_vecs, MIN(vec_id) AS min_vec
       |FROM (SELECT vec_id, ${bucketExpr(planeDotD)} AS bucket
       |      FROM embeddings)
       |GROUP BY bucket ORDER BY bucket""".stripMargin

  // -- sim_lsh_ann: bucket-local near-neighbor pairs --------------------------
  // The ANN scale path: only pairs sharing an LSH bucket are scored, so the
  // join is bucket-partitioned instead of a full cross product.
  private def simLshAnn(s: SparkSession, dir: String): DataFrame = {
    // bucket equi-join generates the candidates; the pair projection is
    // persisted before the threshold filter (see Dedup.ddEmbedCosine for
    // the pushdown rationale)
    val e = table(s, dir, "embeddings")
      .selectExpr("vec_id", "embedding",
        s"${dotS("embedding", "embedding")} AS n2",
        s"${bucketExpr(planeDotS)} AS bucket")
      .cache()
    trackCached(s, dir, e)
    val a = e.select(col("vec_id").as("vec_a"), col("embedding").as("ea"),
      col("n2").as("n2a"), col("bucket"))
    val b = e.select(col("vec_id").as("vec_b"), col("embedding").as("eb"),
      col("n2").as("n2b"), col("bucket").as("bucket_b"))
    val pairs = a
      .join(b, col("bucket") === col("bucket_b")
        && col("vec_a") < col("vec_b"))
      .selectExpr("vec_a", "vec_b",
        s"round(${dotS("ea", "eb")} / sqrt(n2a * n2b), 6) AS cos_sim")
      .cache()
    trackCached(s, dir, pairs)
    pairs.filter(col("cos_sim") >= 0.4).orderBy(col("vec_a"), col("vec_b"))
  }

  private val simLshAnnSql =
    s"""WITH e AS (SELECT vec_id, embedding,
       |    ${dotD("embedding", "embedding")} AS n2,
       |    ${bucketExpr(planeDotD)} AS bucket
       |  FROM embeddings)
       |SELECT vec_a, vec_b, cos_sim FROM (
       |  SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
       |    round(${dotD("a.embedding", "b.embedding")}
       |      / sqrt(a.n2 * b.n2), 6) AS cos_sim
       |  FROM e a JOIN e b ON a.bucket = b.bucket AND a.vec_id < b.vec_id)
       |WHERE cos_sim >= 0.4 ORDER BY vec_a, vec_b""".stripMargin

  // -- sim_ann_recall: measured recall@5 of the banded LSH probe --------------
  // The index-quality gate: before an ANN index replaces exact search in
  // a pipeline, its recall is MEASURED against the exact top-k on a
  // query sample — this query is that report. For each query vector
  // (vec_id < 8, the sim_topk_brute sample), the exact cosine top-5 is
  // compared with the top-5 among candidates sharing ANY of the query's
  // 4 two-plane RH-LSH bands (the banded configuration the scale paths
  // ship — a SINGLE full-width probe measures ~0 here: at cos 0.4-0.7
  // all 8 sign bits agree with prob (1-θ/π)^8 ≈ 3%, which is exactly
  // why production LSH bands). Band b of the 8-bit bucket is its 2-bit
  // slice (bucket div 4^b % 4), identical arithmetic in both dialects.
  // n_found counts exact neighbors the probe recovered; recall_micro =
  // n_found*1e6/5 exact-integer. Both top-5 sets are deterministic
  // (rounded cosine, vec_id tiebreak), so the report hash-verifies
  // cross-engine.
  // Scale shape: the exact side is the documented small-query-sample ×
  // corpus spec regime (sim_topk_brute's contract — that's the ground
  // truth being measured against, irreducibly all-pairs on the sample).
  // The PROBE side is the production shape: each vector's 4 bands
  // explode to (band, bval) keys and candidates come from a DISTINCT
  // over a (band, bval) equi-join — the same index shape as
  // dd_embed_cosine_lsh, shuffle-partitioned by band value, never
  // sample × corpus. "Shares ANY band" ≡ "appears in ≥1 band bucket",
  // so the candidate set (and the report) is unchanged from the
  // OR-of-bands formulation it replaces.
  private def annBandsSql(src: String): String =
    s"""SELECT vec_id, t.band, t.bval FROM $src
       |LATERAL VIEW posexplode(array(
       |  bucket % 4, (bucket div 4) % 4,
       |  (bucket div 16) % 4, (bucket div 64) % 4)) t AS band, bval""".stripMargin

  private val annCandSql =
    s"""SELECT DISTINCT qb.vec_id AS query_id, cb.vec_id AS cand_id
       |FROM (SELECT * FROM (${annBandsSql("sim_rec_e")}) WHERE vec_id < 8) qb
       |JOIN (${annBandsSql("sim_rec_e")}) cb
       |  ON qb.band = cb.band AND qb.bval = cb.bval
       |  AND cb.vec_id <> qb.vec_id""".stripMargin

  private def registerRecallView(s: SparkSession, dir: String): Unit = {
    // cached + tracked: the recall SQL scans this view ~6 times (qb/cb
    // in the candidate join, q/c in both top-5 sides) and Spark
    // inlines views, so an uncached projection re-runs the 8-plane
    // hyperplane folds per scan — the cost class the trainIvfPq doc
    // records
    trackCached(s, dir, table(s, dir, "embeddings")
      .selectExpr("vec_id", "embedding",
        s"${dotS("embedding", "embedding")} AS n2",
        s"${bucketExpr(planeDotS)} AS bucket")
      .cache())
      .createOrReplaceTempView("sim_rec_e")
  }

  /** The probe's candidate generator alone — exposed so PlanSpec can
    * assert the production shape (equi-join only, no nested-loop).
    */
  private[graft] def annCandidates(s: SparkSession, dir: String): DataFrame = {
    registerRecallView(s, dir)
    s.sql(annCandSql)
  }

  private def simAnnRecall(s: SparkSession, dir: String): DataFrame = {
    registerRecallView(s, dir)
    val exactTop5 =
      s"""SELECT query_id, neighbor_id FROM (
         |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         |    row_number() OVER (PARTITION BY q.vec_id
         |      ORDER BY round(${dotS("q.embedding", "c.embedding")}
         |        / sqrt(q.n2 * c.n2), 6) DESC, c.vec_id) AS rnk
         |  FROM sim_rec_e q JOIN sim_rec_e c
         |    ON q.vec_id < 8 AND c.vec_id <> q.vec_id)
         |WHERE rnk <= 5""".stripMargin
    val annTop5 =
      s"""SELECT query_id, neighbor_id FROM (
         |  SELECT cand.query_id, cand.cand_id AS neighbor_id,
         |    row_number() OVER (PARTITION BY cand.query_id
         |      ORDER BY round(${dotS("q.embedding", "c.embedding")}
         |        / sqrt(q.n2 * c.n2), 6) DESC, cand.cand_id) AS rnk
         |  FROM cand
         |  JOIN sim_rec_e q ON q.vec_id = cand.query_id
         |  JOIN sim_rec_e c ON c.vec_id = cand.cand_id)
         |WHERE rnk <= 5""".stripMargin
    s.sql(
      s"""WITH cand AS ($annCandSql),
         |ex AS ($exactTop5),
         |ann AS ($annTop5)
         |SELECT ex.query_id,
         |  cast(count(ann.neighbor_id) as bigint) AS n_found,
         |  cast(count(ann.neighbor_id) as bigint) * 1000000 div 5
         |    AS recall_micro
         |FROM ex LEFT JOIN ann ON ex.query_id = ann.query_id
         |  AND ex.neighbor_id = ann.neighbor_id
         |GROUP BY ex.query_id ORDER BY ex.query_id""".stripMargin)
  }

  private val simAnnRecallSql = {
    val anyBand = (0 until 4)
      .map(b => s"(q.bucket // ${1 << (2 * b)}) % 4 =" +
        s" (c.bucket // ${1 << (2 * b)}) % 4")
      .mkString(" AND (", " OR ", ")")
    def top5(extraCond: String) =
      s"""SELECT query_id, neighbor_id FROM (
         |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         |    row_number() OVER (PARTITION BY q.vec_id
         |      ORDER BY round(${dotD("q.embedding", "c.embedding")}
         |        / sqrt(q.n2 * c.n2), 6) DESC, c.vec_id) AS rnk
         |  FROM e q JOIN e c
         |    ON q.vec_id < 8 AND c.vec_id <> q.vec_id$extraCond)
         |WHERE rnk <= 5""".stripMargin
    s"""WITH e AS (SELECT vec_id, embedding,
       |    ${dotD("embedding", "embedding")} AS n2,
       |    ${bucketExpr(planeDotD)} AS bucket
       |  FROM embeddings),
       |ex AS (${top5("")}),
       |ann AS (${top5(anyBand)})
       |SELECT ex.query_id,
       |  CAST(COUNT(ann.neighbor_id) AS BIGINT) AS n_found,
       |  CAST(COUNT(ann.neighbor_id) AS BIGINT) * 1000000 // 5
       |    AS recall_micro
       |FROM ex LEFT JOIN ann ON ex.query_id = ann.query_id
       |  AND ex.neighbor_id = ann.neighbor_id
       |GROUP BY ex.query_id ORDER BY ex.query_id""".stripMargin
  }

  // -- sim_ivf_assign: IVF cell assignment + cell sizes -----------------------
  // Centroids = vectors 0..3 (stand-in for a k-means codebook); each vector
  // goes to the centroid with max rounded cosine (ties -> lower centroid id).
  private def simIvfAssign(s: SparkSession, dir: String): DataFrame = {
    table(s, dir, "embeddings")
      .selectExpr("vec_id", "embedding",
        s"${dotS("embedding", "embedding")} AS n2")
      .createOrReplaceTempView("sim_ivf")
    s.sql(
      s"""SELECT cell, COUNT(*) AS n_vecs, MIN(vec_id) AS min_vec FROM (
         |  SELECT v.vec_id, c.vec_id AS cell,
         |    row_number() OVER (PARTITION BY v.vec_id
         |      ORDER BY round(${dotS("v.embedding", "c.embedding")}
         |        / sqrt(v.n2 * c.n2), 6) DESC, c.vec_id) AS rnk
         |  FROM sim_ivf v JOIN sim_ivf c ON c.vec_id < 4)
         |WHERE rnk = 1 GROUP BY cell ORDER BY cell""".stripMargin)
  }

  private val simIvfAssignSql =
    s"""WITH e AS (SELECT vec_id, embedding,
       |  ${dotD("embedding", "embedding")} AS n2 FROM embeddings)
       |SELECT cell, COUNT(*) AS n_vecs, MIN(vec_id) AS min_vec FROM (
       |  SELECT v.vec_id, c.vec_id AS cell,
       |    row_number() OVER (PARTITION BY v.vec_id
       |      ORDER BY round(${dotD("v.embedding", "c.embedding")}
       |        / sqrt(v.n2 * c.n2), 6) DESC, c.vec_id) AS rnk
       |  FROM e v JOIN e c ON c.vec_id < 4)
       |WHERE rnk = 1 GROUP BY cell ORDER BY cell""".stripMargin

  // -- sim_ivf_probe: IVF search — probe only the query's cell ----------------
  // The actual IVF query path: assign every vector to its nearest
  // centroid once, then each query scores ONLY the candidates sharing
  // its cell (|cell| ≈ N/C work instead of N). Exact same shape a real
  // IVF index executes; recall loss vs sim_topk_brute is the expected
  // IVF trade-off.

  /** Query boundary: vec_id >= IvfQ are queries, below are candidates
    * — shared by this probe, the IVF-PQ family, and the streaming
    * ANN-serve replay gates (which feed exactly that set). Declared
    * HERE, above its first STRICT-val consumer (simIvfProbeSql): a
    * same-object forward reference to a strict val reads 0 at init,
    * which would have silently turned the oracle's boundary into
    * `vec_id >= 0`.
    */
  private[graft] val IvfQ = 492

  private def simIvfProbe(s: SparkSession, dir: String): DataFrame = {
    trackCached(s, dir, table(s, dir, "embeddings")
      .selectExpr("vec_id", "embedding",
        s"${dotS("embedding", "embedding")} AS n2")
      .cache())
      .createOrReplaceTempView("sim_ivfp")
    s.sql(
      s"""WITH assign AS (
         |  SELECT vec_id, cell FROM (
         |    SELECT v.vec_id, c.vec_id AS cell,
         |      row_number() OVER (PARTITION BY v.vec_id
         |        ORDER BY round(${dotS("v.embedding", "c.embedding")}
         |          / sqrt(v.n2 * c.n2), 6) DESC, c.vec_id) AS rnk
         |    FROM sim_ivfp v JOIN sim_ivfp c ON c.vec_id < 4)
         |  WHERE rnk = 1),
         |q AS (SELECT e.vec_id, e.embedding, e.n2, a.cell
         |      FROM sim_ivfp e JOIN assign a ON e.vec_id = a.vec_id
         |      WHERE e.vec_id >= $IvfQ),
         |cand AS (SELECT e.vec_id, e.embedding, e.n2, a.cell
         |         FROM sim_ivfp e JOIN assign a ON e.vec_id = a.vec_id
         |         WHERE e.vec_id < $IvfQ)
         |SELECT query_id, cell, neighbor_id, cos_sim,
         |  cast(rnk as bigint) AS rnk FROM (
         |  SELECT q.vec_id AS query_id, q.cell, cand.vec_id AS neighbor_id,
         |    round(${dotS("q.embedding", "cand.embedding")}
         |      / sqrt(q.n2 * cand.n2), 6) AS cos_sim,
         |    row_number() OVER (PARTITION BY q.vec_id
         |      ORDER BY round(${dotS("q.embedding", "cand.embedding")}
         |        / sqrt(q.n2 * cand.n2), 6) DESC, cand.vec_id) AS rnk
         |  FROM q JOIN cand ON q.cell = cand.cell)
         |WHERE rnk <= 3 ORDER BY query_id, rnk""".stripMargin)
  }

  private val simIvfProbeSql =
    s"""WITH e AS (SELECT vec_id, embedding,
       |  ${dotD("embedding", "embedding")} AS n2 FROM embeddings),
       |assign AS (
       |  SELECT vec_id, cell FROM (
       |    SELECT v.vec_id, c.vec_id AS cell,
       |      row_number() OVER (PARTITION BY v.vec_id
       |        ORDER BY round(${dotD("v.embedding", "c.embedding")}
       |          / sqrt(v.n2 * c.n2), 6) DESC, c.vec_id) AS rnk
       |    FROM e v JOIN e c ON c.vec_id < 4)
       |  WHERE rnk = 1),
       |q AS (SELECT e.vec_id, e.embedding, e.n2, a.cell
       |      FROM e JOIN assign a ON e.vec_id = a.vec_id
       |      WHERE e.vec_id >= $IvfQ),
       |cand AS (SELECT e.vec_id, e.embedding, e.n2, a.cell
       |         FROM e JOIN assign a ON e.vec_id = a.vec_id
       |         WHERE e.vec_id < $IvfQ)
       |SELECT query_id, cell, neighbor_id, cos_sim,
       |  CAST(rnk AS BIGINT) AS rnk FROM (
       |  SELECT q.vec_id AS query_id, q.cell, cand.vec_id AS neighbor_id,
       |    round(${dotD("q.embedding", "cand.embedding")}
       |      / sqrt(q.n2 * cand.n2), 6) AS cos_sim,
       |    row_number() OVER (PARTITION BY q.vec_id
       |      ORDER BY round(${dotD("q.embedding", "cand.embedding")}
       |        / sqrt(q.n2 * cand.n2), 6) DESC, cand.vec_id) AS rnk
       |  FROM q JOIN cand ON q.cell = cand.cell)
       |WHERE rnk <= 3 ORDER BY query_id, rnk""".stripMargin

  // -- sim_knn_label: 5-NN majority-label vote for held-out queries -----------
  private def simKnnLabel(s: SparkSession, dir: String): DataFrame = {
    val base = table(s, dir, "embeddings")
      .selectExpr("vec_id", "label", "embedding",
        s"${dotS("embedding", "embedding")} AS n2")
    base.createOrReplaceTempView("sim_knn")
    // query side round-robin repartitioned before the brute-force
    // grid, score projected pre-window (r21): the single-file scan
    // otherwise serialized the whole queries x candidates cosine pass
    // on one core (3.0 of the query's 1.4-CPU... wall-dominating
    // stage at sf0.1 — the ANN recall frames' pattern). Same score
    // expression, same ordering, same rows.
    val exP = s.conf.get("spark.sql.shuffle.partitions").toInt
    base.where("vec_id >= 490")
      .selectExpr("vec_id AS query_id", "label AS true_label",
        "embedding AS qe", "n2 AS qn2")
      .repartition(exP)
      .crossJoin(base.where("vec_id < 490")
        .selectExpr("vec_id AS c_vec_id", "label", "embedding AS ce",
          "n2 AS cn2"))
      .selectExpr("query_id", "true_label", "label", "c_vec_id",
        s"round(${dotS("qe", "ce")} / sqrt(qn2 * cn2), 6) AS score")
      .createOrReplaceTempView("sim_knn_grid")
    s.sql(
      s"""WITH knn AS (
         |  SELECT query_id, true_label, label FROM (
         |    SELECT query_id, true_label, label,
         |      row_number() OVER (PARTITION BY query_id
         |        ORDER BY score DESC, c_vec_id) AS rnk
         |    FROM sim_knn_grid)
         |  WHERE rnk <= 5)
         |SELECT query_id, true_label, label AS predicted_label, votes FROM (
         |  SELECT query_id, true_label, label, COUNT(*) AS votes,
         |    row_number() OVER (PARTITION BY query_id
         |      ORDER BY COUNT(*) DESC, label) AS pick
         |  FROM knn GROUP BY query_id, true_label, label)
         |WHERE pick = 1 ORDER BY query_id""".stripMargin)
  }

  private val simKnnLabelSql =
    s"""WITH e AS (SELECT vec_id, label, embedding,
       |  ${dotD("embedding", "embedding")} AS n2 FROM embeddings),
       |knn AS (
       |  SELECT query_id, true_label, label FROM (
       |    SELECT q.vec_id AS query_id, q.label AS true_label, c.label,
       |      row_number() OVER (PARTITION BY q.vec_id
       |        ORDER BY round(${dotD("q.embedding", "c.embedding")}
       |          / sqrt(q.n2 * c.n2), 6) DESC, c.vec_id) AS rnk
       |    FROM e q JOIN e c ON q.vec_id >= 490 AND c.vec_id < 490)
       |  WHERE rnk <= 5)
       |SELECT query_id, true_label, label AS predicted_label, votes FROM (
       |  SELECT query_id, true_label, label, COUNT(*) AS votes,
       |    row_number() OVER (PARTITION BY query_id
       |      ORDER BY COUNT(*) DESC, label) AS pick
       |  FROM knn GROUP BY query_id, true_label, label)
       |WHERE pick = 1 ORDER BY query_id""".stripMargin

  // -- sim_kmeans: exact fixed-point Lloyd training ---------------------------
  // The trainable half of the IVF index (sim_ivf_* uses seed vectors as a
  // stand-in codebook): k=4 centroids, seeded from vectors 0..3, one full
  // Lloyd round (assign -> centroid update -> re-assign) computed ENTIRELY
  // in scaled integers so the training is bit-identical across engines —
  // components quantize via the m4 discipline (floor(x*1e4 + 0.5) as
  // bigint), distances are exact integer Σ(a-b)², centroid means use
  // truncating integer division (Spark `div`; DuckDB's `//` floors, so
  // negative sums emulate truncation explicitly). No floating point
  // enters the pipeline at any step, so there is nothing to drift.
  //
  // Scale shape: assignment is a k-row broadcast cross join (narrow per
  // vector, like every k-means implementation); the update is one
  // partial+final aggregation over (cell, component). Output: per-cell
  // sizes and exact integer inertia after the re-assignment.
  private val KmK = 4

  /** Quantized embedding — Spark / DuckDB. */
  private val x4S =
    "transform(embedding, x ->" +
      " cast(floor(cast(x as double) * 10000.0 + 0.5) as bigint))"
  private val x4D =
    "list_transform(embedding, x ->" +
      " CAST(floor(CAST(x AS DOUBLE) * 10000.0 + 0.5) AS BIGINT))"

  /** Exact integer squared L2 between two bigint arrays. */
  private def distS(a: String, b: String): String =
    s"aggregate(zip_with($a, $b, (p, q) -> (p - q) * (p - q))," +
      s" cast(0 as bigint), (acc, d) -> acc + d)"
  private def distD(a: String, b: String): String =
    s"list_reduce(list_transform(range(1, len($a) + 1)," +
      s" i -> ($a[i] - $b[i]) * ($a[i] - $b[i])), (x, y) -> x + y)"

  /** One assignment round: each vector to its nearest centroid (ties ->
    * lower cell id), keeping the exact distance. One template for both
    * dialects — only the distance snippet differs — so the Spark query
    * and its oracle cannot drift apart one-sidedly.
    */
  private def assignTop(base: String, cents: String, dist: String,
                        n: Int): String =
    s"""SELECT vec_id, x4, cell, dist FROM (
       |  SELECT vec_id, x4, cell, dist,
       |    row_number() OVER (PARTITION BY vec_id
       |      ORDER BY dist, cell) AS rnk
       |  FROM (SELECT v.vec_id, v.x4, c.cell,
       |          $dist AS dist
       |        FROM $base v CROSS JOIN $cents c))
       |WHERE rnk <= $n""".stripMargin
  private def assign(base: String, cents: String, dist: String): String =
    assignTop(base, cents, dist, 1)
  private def assignS(base: String, cents: String): String =
    assign(base, cents, distS("v.x4", "c.c"))
  private def assignD(base: String, cents: String): String =
    assign(base, cents, distD("v.x4", "c.c"))
  /** Top-`IvfNprobe` cells per vector — the query-side probe set. */
  private def assignS2(base: String, cents: String): String =
    assignTop(base, cents, distS("v.x4", "c.c"), IvfNprobe)
  private def assignD2(base: String, cents: String): String =
    assignTop(base, cents, distD("v.x4", "c.c"), IvfNprobe)

  private def simKmeans(s: SparkSession, dir: String): DataFrame = {
    table(s, dir, "embeddings")
      .selectExpr("vec_id", s"$x4S AS x4")
      .createOrReplaceTempView("km_base")
    s.sql(
      s"""WITH cents0 AS (
         |  SELECT vec_id AS cell, x4 AS c FROM km_base WHERE vec_id < $KmK),
         |a1 AS (${assignS("km_base", "cents0")}),
         |cents1 AS (
         |  SELECT cell,
         |    transform(array_sort(collect_list(struct(pos, comp))),
         |      t -> t.comp) AS c
         |  FROM (
         |    SELECT cell, pos, sum(v) div count(*) AS comp
         |    FROM a1 LATERAL VIEW posexplode(x4) t AS pos, v
         |    GROUP BY cell, pos)
         |  GROUP BY cell),
         |a2 AS (${assignS("km_base", "cents1")})
         |SELECT cell, COUNT(*) AS n_vecs, MIN(vec_id) AS min_vec,
         |  SUM(dist) AS inertia
         |FROM a2 GROUP BY cell ORDER BY cell""".stripMargin)
  }

  private val simKmeansSql =
    s"""WITH base AS (SELECT vec_id, $x4D AS x4 FROM embeddings),
       |cents0 AS (
       |  SELECT vec_id AS cell, x4 AS c FROM base WHERE vec_id < $KmK),
       |a1 AS (${assignD("base", "cents0")}),
       |cents1 AS (
       |  SELECT cell, list(comp ORDER BY i) AS c
       |  FROM (
       |    SELECT cell, i,
       |      CASE WHEN s >= 0 THEN s // n ELSE -((-s) // n) END AS comp
       |    FROM (
       |      SELECT cell, i, CAST(SUM(v) AS BIGINT) AS s,
       |        CAST(COUNT(*) AS BIGINT) AS n
       |      FROM (
       |        SELECT cell, unnest(range(1, len(x4) + 1)) AS i,
       |          unnest(x4) AS v
       |        FROM a1)
       |      GROUP BY cell, i))
       |  GROUP BY cell),
       |a2 AS (${assignD("base", "cents1")})
       |SELECT cell, COUNT(*) AS n_vecs, MIN(vec_id) AS min_vec,
       |  CAST(SUM(dist) AS BIGINT) AS inertia
       |FROM a2 GROUP BY cell ORDER BY cell""".stripMargin

  // -- sim_pq: product-quantization encoding ----------------------------------
  // The vector-compression half of a billion-scale ANN index (IVF-PQ):
  // split each 64-dim embedding into 4 subvectors of 16 dims, train an
  // independent k=4 codebook per subspace with the SAME exact
  // fixed-point Lloyd round as sim_kmeans (seeded from vectors 0..3's
  // subvectors, integer distances, truncating-division means — nothing
  // to drift cross-engine), then encode every vector as its 4 nearest
  // sub-centroid ids plus the exact integer quantization error. 64
  // floats compress to 4 small codes; production uses 256 centroids
  // per subspace (8-bit codes) and more Lloyd rounds — same shapes,
  // bigger constants.
  //
  // Scale shape: per subspace the assignment is a k-row broadcast cross
  // join and the update one partial+final agg — identical to
  // sim_kmeans x4; the final encode joins the four per-subspace
  // assignments on vec_id (co-partitioned, one shuffle key).
  private val PqM = 4
  private val PqDim = 16

  /** Per-subspace CTE chain + final encode join, one template for both
    * dialects: `slice(m)` extracts subvector m from the quantized x4,
    * `assignF` is the shared nearest-centroid template, `centF` the
    * dialect's centroid-update over an a1 relation.
    */
  private def pqSql(base: String, slice: Int => String,
                    assignF: (String, String) => String,
                    centF: String => String): String = {
    val ctes = (0 until PqM).flatMap { m =>
      Seq(
        s"b$m AS (SELECT vec_id, ${slice(m)} AS x4 FROM $base)",
        s"c0_$m AS (SELECT vec_id AS cell, x4 AS c FROM b$m" +
          s" WHERE vec_id < $KmK)",
        s"a1_$m AS (${assignF(s"b$m", s"c0_$m")})",
        s"c1_$m AS (${centF(s"a1_$m")})",
        s"a2_$m AS (${assignF(s"b$m", s"c1_$m")})",
        s"e$m AS (SELECT vec_id, cell, dist FROM a2_$m)")
    }
    val joins = (1 until PqM)
      .map(m => s"JOIN e$m ON e0.vec_id = e$m.vec_id").mkString(" ")
    s"""${ctes.mkString(",\n")}
       |SELECT e0.vec_id,
       |  ${(0 until PqM).map(m => s"e$m.cell AS code_$m").mkString(", ")},
       |  ${(0 until PqM).map(m => s"e$m.dist").mkString(" + ")} AS q_err
       |FROM e0 $joins
       |ORDER BY e0.vec_id""".stripMargin
  }

  /** Spark centroid update (as in sim_kmeans). */
  private def pqCentS(a1: String): String =
    s"""SELECT cell,
       |  transform(array_sort(collect_list(struct(pos, comp))),
       |    t -> t.comp) AS c
       |FROM (
       |  SELECT cell, pos, sum(v) div count(*) AS comp
       |  FROM $a1 LATERAL VIEW posexplode(x4) t AS pos, v
       |  GROUP BY cell, pos)
       |GROUP BY cell""".stripMargin

  /** DuckDB centroid update (as in sim_kmeans's oracle; `//` floors, so
    * negative sums emulate Spark's truncation explicitly).
    */
  private def pqCentD(a1: String): String =
    s"""SELECT cell, list(comp ORDER BY i) AS c
       |FROM (
       |  SELECT cell, i,
       |    CASE WHEN s >= 0 THEN s // n ELSE -((-s) // n) END AS comp
       |  FROM (
       |    SELECT cell, i, CAST(SUM(v) AS BIGINT) AS s,
       |      CAST(COUNT(*) AS BIGINT) AS n
       |    FROM (
       |      SELECT cell, unnest(range(1, len(x4) + 1)) AS i,
       |        unnest(x4) AS v
       |      FROM $a1)
       |    GROUP BY cell, i))
       |GROUP BY cell""".stripMargin

  private def simPq(s: SparkSession, dir: String): DataFrame = {
    table(s, dir, "embeddings")
      .selectExpr("vec_id", s"$x4S AS x4")
      .createOrReplaceTempView("pq_base")
    s.sql("WITH " + pqSql("pq_base",
      m => s"slice(x4, ${PqDim * m + 1}, $PqDim)", assignS, pqCentS))
  }

  private val simPqSql =
    s"""WITH base AS (SELECT vec_id, $x4D AS x4 FROM embeddings),
       |${pqSql("base",
          m => s"x4[${PqDim * m + 1}:${PqDim * m + PqDim}]",
          assignD, pqCentD)}""".stripMargin

  // -- sim_ivfpq: IVF-PQ search with asymmetric distance computation ----------
  // The full billion-scale ANN query path (Jégou et al., "Product
  // Quantization for Nearest Neighbor Search", TPAMI 2011): a coarse IVF
  // assignment prunes the candidate set to the query's cell, and each
  // survivor is scored WITHOUT decompressing its vector — its 4 PQ codes
  // look up the trained sub-centroids and the distance is the sum of
  // exact integer L2s between the query's subvectors and those
  // sub-centroids (ADC). Queries keep their raw vectors (asymmetric);
  // candidates exist only as codes.
  //
  // Scale shape: codebooks and the k=4 coarse centroid set are tiny
  // broadcast relations; candidates shuffle once on cell; scoring is
  // |cell| per query with 4 codebook lookups instead of a 64-dim scan.
  // Same exact fixed-point Lloyd arithmetic as sim_pq / sim_kmeans, so
  // nothing drifts cross-engine.
  //
  // nprobe = 2: each query probes its TWO nearest coarse cells — the
  // standard mitigation for the classic IVF failure mode, a true
  // neighbor sitting just across the query's cell boundary. The probe
  // set is still a handful of (query, cell) keys joined cell-bucketed
  // against the candidates (cells are disjoint, so no DISTINCT is
  // needed); ranking runs over the union of both probed cells. The
  // arithmetic stays integer-exact, so the oracle restates it verbatim.
  // vec_id >= IvfQ are queries (as sim_ivf_probe); exposed to the
  // streaming ANN-serve replay gates, which feed exactly that set
  // (IvfQ itself is declared above sim_ivf_probe — its strict-val
  // consumers there would read 0 through a forward reference)
  private val IvfNprobe = 2

  /** The train+probe CTE chain shared by sim_ivfpq and the refine
    * oracle: everything up to the `q` (probed queries) and `cand`
    * (corpus assignments) relations.
    */
  private def ivfpqCtes(base: String, slice: Int => String,
                        assignF: (String, String) => String,
                        assign2F: (String, String) => String,
                        centF: String => String,
                        trainWhere: String = ""): String = {
    // sim_ivfpq_fold_stored narrows the Lloyd statistics (pa1 -> pc1)
    // to the generation-0 training rows while pa2/cd still encode the
    // whole corpus with the resulting frozen codebooks — the oracle
    // restatement of train-once-then-add. Empty = train on everything.
    def trainSide(m: Int): String =
      if (trainWhere.isEmpty) s"pb$m"
      else s"(SELECT * FROM pb$m WHERE $trainWhere)"
    val pqCtes = (0 until PqM).flatMap { m =>
      Seq(
        s"pb$m AS (SELECT vec_id, ${slice(m)} AS x4 FROM $base)",
        s"pc0_$m AS (SELECT vec_id AS cell, x4 AS c FROM pb$m" +
          s" WHERE vec_id < $KmK)",
        s"pa1_$m AS (${assignF(trainSide(m), s"pc0_$m")})",
        s"pc1_$m AS (${centF(s"pa1_$m")})",
        s"pa2_$m AS (${assignF(s"pb$m", s"pc1_$m")})",
        // candidate reconstructions: code -> trained sub-centroid
        s"cd$m AS (SELECT e.vec_id, c.c FROM pa2_$m e" +
          s" JOIN pc1_$m c ON e.cell = c.cell)")
    }
    s"""cents0 AS (SELECT vec_id AS cell, x4 AS c FROM $base
       |  WHERE vec_id < $KmK),
       |coarse AS (${assignF(base, "cents0")}),
       |${pqCtes.mkString(",\n")},
       |q AS (SELECT vec_id, cell,
       |        ${(0 until PqM).map(m => s"${slice(m)} AS qs$m")
                  .mkString(", ")}
       |      FROM (${assign2F(
                  s"(SELECT * FROM $base WHERE vec_id >= $IvfQ)",
                  "cents0")})),
       |cand AS (SELECT vec_id, cell FROM coarse WHERE vec_id < $IvfQ)"""
      .stripMargin
  }

  /** ADC ranking over the `q`/`cand`/`cd*` relations of [[ivfpqCtes]]:
    * top-`cap` candidates per query by asymmetric distance. `ordered`
    * is dropped when the select is embedded as a CTE for the refine
    * stage (the outer query re-orders).
    */
  private def ivfpqAdcSelect(dist: (String, String) => String,
                             cap: Int, ordered: Boolean): String =
    s"""SELECT query_id, cell, neighbor_id, adc_dist,
       |  CAST(rnk AS BIGINT) AS rnk FROM (
       |  SELECT query_id, cell, neighbor_id, adc_dist,
       |    row_number() OVER (PARTITION BY query_id
       |      ORDER BY adc_dist, neighbor_id) AS rnk
       |  FROM (
       |    SELECT q.vec_id AS query_id, q.cell AS cell,
       |      cand.vec_id AS neighbor_id,
       |      ${(0 until PqM).map(m => dist(s"q.qs$m", s"cd$m.c"))
                .mkString("\n      + ")} AS adc_dist
       |    FROM q JOIN cand ON cand.cell = q.cell
       |    ${(0 until PqM)
              .map(m => s"JOIN cd$m ON cd$m.vec_id = cand.vec_id")
              .mkString(" ")}))
       |WHERE rnk <= $cap${if (ordered) " ORDER BY query_id, rnk" else ""}"""
      .stripMargin

  private def ivfpqSql(base: String, slice: Int => String,
                       assignF: (String, String) => String,
                       assign2F: (String, String) => String,
                       centF: String => String,
                       dist: (String, String) => String,
                       trainWhere: String = ""): String =
    ivfpqCtes(base, slice, assignF, assign2F, centF, trainWhere) + "\n" +
      ivfpqAdcSelect(dist, 3, ordered = true)

  private def simIvfPq(s: SparkSession, dir: String): DataFrame = {
    // The spec regime: training happens INSIDE the query call — every
    // invocation retrains from the corpus (the bench times the whole
    // call, so training stays measured), then scores through the same
    // ADC serving plan as the pretrained path. Same fixed-point Lloyd
    // and ADC arithmetic, so the result is byte-identical to the
    // self-contained train+score SQL the oracle states.
    val model = trainIvfPq(s, dir)
    purgeDeadSessions()
    ivfpqModelCache.put((s, dir), model) // later pretrained calls reuse
    registerServingViews(s, dir, model)
    s.sql(s"WITH ${servingCtes(model)}\n" +
      servingAdcSelect(3, ordered = true))
  }

  private val simIvfPqSql =
    s"""WITH base AS (SELECT vec_id, $x4D AS x4 FROM embeddings),
       |${ivfpqSql("base",
          m => s"x4[${PqDim * m + 1}:${PqDim * m + PqDim}]",
          assignD, assignD2, pqCentD, distD)}""".stripMargin

  /** The fold oracle: the same self-contained chain with the Lloyd
    * statistics narrowed to the generation-0 training half — the
    * independent restatement of "train once, add the rest frozen".
    */
  /** Generation-0 training boundary (the first half of the candidate
    * corpus). Declared HERE, above the fold oracle that interpolates
    * it — before r20 the oracle inlined `IvfQ / 2` because the val
    * lived below it (a strict-val forward reference reads 0 at object
    * init), so retuning the training fraction would have silently
    * desynchronized the oracle from the stored path it checks.
    */
  private[graft] val IvfTrainOld = IvfQ / 2

  private val simIvfPqFoldStoredSql =
    s"""WITH base AS (SELECT vec_id, $x4D AS x4 FROM embeddings),
       |${ivfpqSql("base",
          m => s"x4[${PqDim * m + 1}:${PqDim * m + PqDim}]",
          assignD, assignD2, pqCentD, distD,
          trainWhere = s"vec_id < $IvfTrainOld")}""".stripMargin

  // -- sim_ivfpq_pretrained: the persisted-model serving path -----------------
  // sim_ivfpq is the spec regime: one self-contained query that trains
  // the codebooks AND scores — right for an oracle, wrong for serving,
  // where a production user trains ONCE and scores many query batches
  // against the stored index. This variant separates the two. Training
  // materializes the model: the 4 coarse centroids and 4 sub-codebooks
  // collect to tiny LOCAL relations (they broadcast into every serving
  // join), and the corpus PQ code table — the index, 4 small codes per
  // vector — is localCheckpoint'ed so its lineage (the whole Lloyd
  // round) never re-enters a plan. The per-query plan is ONLY the
  // serving work: coarse-assign the query batch against the 4-row
  // centroid relation, cell equi-join into the code table, 4 codebook
  // lookups, ADC ranking. Arithmetic is identical to sim_ivfpq (same
  // fixed-point Lloyd, same ADC), so the result — and the oracle — is
  // byte-identical; PlanSpec asserts the training aggregates are gone
  // from the serving plan.
  private[graft] case class IvfPqModel(cents: Seq[(Long, Seq[Long])],
                                       codebooks: Seq[Seq[(Long, Seq[Long])]],
                                       codes: DataFrame)

  // Keyed on (session, dir), not dir alone: the cached code table is a
  // localCheckpoint bound to the session that trained it, so a cache
  // hit from a different (e.g. restarted) session would serve RDD
  // blocks of a dead context. Sessions are compared by identity.
  private val ivfpqModelCache = scala.collection.concurrent.TrieMap
    .empty[(SparkSession, String), IvfPqModel]

  /** Cached corpus-derived relations per (session, corpus) —
    * Dedup.trackCached's discipline for THIS pack's `.cache()` sites
    * (the LSH projection/pair relations, the IVF norm view, the
    * recall view): the cache manager matches canonical plans, not
    * file contents, so a corpus rewritten in place would keep serving
    * stale blocks until [[invalidateCorpus]] releases them. LRU past
    * 16 entries (a long-lived multi-corpus session otherwise pins
    * every corpus's scan blocks forever); evicted or invalidated
    * entries unpersist and consumers recompute on demand.
    */
  private val trackedCaches =
    new java.util.LinkedHashMap[(SparkSession, String), List[DataFrame]](
        16, 0.75f, /*accessOrder=*/ true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[(SparkSession, String), List[DataFrame]])
          : Boolean = {
        val evict = size() > 16
        if (evict && !e.getKey._1.sparkContext.isStopped)
          e.getValue.foreach(_.unpersist(blocking = false))
        evict
      }
    }

  private def trackCached(s: SparkSession, dir: String,
                          df: DataFrame): DataFrame =
    trackedCaches.synchronized {
      val k = (s, dir)
      val cur = Option(trackedCaches.get(k)).getOrElse(Nil)
      if (!cur.exists(_.queryExecution.analyzed
          .sameResult(df.queryExecution.analyzed)))
        trackedCaches.put(k, df :: cur)
      df
    }

  /** The corpus-rewrite staleness hook (Dedup.invalidateLpEdges' twin
    * for this pack, both behind [[graft.Engine.invalidateCorpus]]):
    * drops the (session, dir) trained-model cache and unpersists the
    * tracked corpus-scan relations, so the next call retrains/rereads
    * the rewritten files. The pid-scoped DISK stores (ensureIvfPqStore
    * et al.) are deliberately out of scope, like Dedup's scratch
    * stores: they are per-process fixtures an operator deletes with
    * the scratch dir.
    */
  /** Test hook: the cached trained model for (session, dir), if any. */
  private[graft] def cachedModelForTest(
      s: SparkSession, dir: String): Option[IvfPqModel] =
    ivfpqModelCache.get((s, dir))

  def invalidateCorpus(session: SparkSession, dir: String): Unit = {
    ivfpqModelCache.remove((session, dir))
    trackedCaches.synchronized {
      Option(trackedCaches.remove((session, dir)))
        .foreach(_.foreach(_.unpersist(blocking = false)))
    }
  }

  /** The cached-model lookup, SERIALIZED per (session, corpus):
    * TrieMap.getOrElseUpdate is not atomic in the update, so two
    * concurrent first callers would both run the full Lloyd round and
    * the loser's localCheckpoint'ed code table would leak until the
    * ContextCleaner collects it — the disk path already serializes
    * through StoreFiles.ensure; this is the in-memory equivalent.
    */
  private val modelLocks =
    new java.util.concurrent.ConcurrentHashMap[(SparkSession, String), Object]
  private def cachedModel(s: SparkSession, dir: String): IvfPqModel =
    modelLocks.computeIfAbsent((s, dir), _ => new Object).synchronized {
      ivfpqModelCache.getOrElseUpdate((s, dir), trainIvfPq(s, dir))
    }

  private def ipqSliceS(m: Int) = s"slice(x4, ${PqDim * m + 1}, $PqDim)"

  /** Nearest-centroid argmin against a DRIVER-LOCAL centroid list, as
    * the compiled [[graft.functions.GraftVec.argminCell]] kernel: the
    * codebook is passed as ONE flattened literal-array argument
    * (constant-folded to a single ArrayData), the cells sorted
    * ascending so the kernel's first-minimum tie-break lands on the
    * lowest cell id. Exactly the semantics of the join-based
    * assignment template (integer distances, ties to the lowest cell
    * id), but as a narrow codegen'd expression: no join, no shuffle,
    * no recomputed CTE — a production encoder's broadcast-the-model
    * map-side pass over the corpus.
    *
    * The earlier literal-argmin form rendered one
    * `aggregate(zip_with(...))` distance tree PER CENTROID, so the
    * generated Java grew O(K·dim) and a production cell count (K in
    * the thousands) would hit Janino's 64 KB method / constant-pool
    * ceilings and fall out of codegen. The kernel call's generated
    * code is O(1) in K (IvfPqKernelSpec exercises K = 256, a scale
    * the literal form could not compile).
    */
  private def argminS(sliceExpr: String,
                      cents: Seq[(Long, Seq[Long])]): String = {
    val sorted = cents.sortBy(_._1)
    val cells = sorted.map { case (cell, _) => s"${cell}L" }
      .mkString("array(", ",", ")")
    val flat = sorted.flatMap(_._2).map(v => s"${v}L")
      .mkString("array(", ",", ")")
    s"graft_argmin_cell($sliceExpr,\n  $cells,\n  $flat)"
  }

  /** Stage-wise IVF-PQ training. The r12 version ran the whole Lloyd
    * round as one CTE chain; Spark inlines CTEs, so every reference
    * re-derived its slice/assignment subtree — 37 jobs and 67.6 s CPU
    * at sf0.1, the heaviest query in the suite. Staged instead:
    *
    *  1. ONE narrow projection of the corpus, lineage-truncated
    *     (`localCheckpoint`) so later passes rescan materialized rows;
    *  2. seeds collect to the driver (KmK = 4 rows — model-sized);
    *  3. all PqM centroid updates in ONE aggregation pass: seed
    *     assignment is the broadcast-codebook kernel ([[argminS]]),
    *     then a single posexplode groups by (subspace, cell, pos);
    *  4. the code table is ONE more narrow pass (coarse cell + PqM
    *     codes, all kernel argmins), checkpointed as the index.
    *
    * Arithmetic is unchanged term-for-term (same fixed-point distances,
    * same truncating-division means), so the oracle stays valid.
    *
    * `kCells` is the coarse/sub-codebook cell count — KmK (= 4, the
    * oracle spec constant) for every driver query; the IvfPqTrainSpec
    * gate trains at 256 (the standard 8-bit-PQ production size) to pin
    * that the staged pipeline is O(1) in K at codegen level (the
    * pre-kernel literal-argmin form could not compile there). Callers
    * other than the spec MUST use the default: the model cache and the
    * serving oracles assume the spec constant.
    */
  private[graft] def trainIvfPq(s: SparkSession, dir: String,
                                kCells: Int = KmK,
                                trainWhere: String = ""): IvfPqModel = {
    // Optional training restriction (sim_ivfpq_fold_stored trains its
    // generation-0 codebooks on the first candidate half): the Lloyd
    // statistics AND the emitted code table narrow to the matching
    // rows; the coarse init (first kCells vectors) must be inside any
    // restriction a caller passes. Empty = the full corpus, rendering
    // byte-identical SQL to the unrestricted form.
    val trainCond = if (trainWhere.isEmpty) "" else s" WHERE $trainWhere"
    val base = table(s, dir, "embeddings")
      .selectExpr("vec_id", s"$x4S AS x4")
      .truncated()
    base.createOrReplaceTempView("ipq_base")
    val cents = base.where(col("vec_id") < kCells)
      .selectExpr("vec_id AS cell", "x4 AS c")
      .collect().map(r => (r.getLong(0), r.getSeq[Long](1).toSeq)).toSeq
    // per-subspace seed assignment as literal argmin columns
    val seedCells = (0 until PqM).map { m =>
      val seeds = cents.map { case (cell, c) =>
        (cell, c.slice(PqDim * m, PqDim * (m + 1)))
      }
      s"${argminS(ipqSliceS(m), seeds)} AS cell_$m"
    }
    val cellOfM = s"CASE pos div $PqDim " +
      (0 until PqM).map(m => s"WHEN $m THEN cell_$m").mkString(" ") + " END"
    val cbRows = s.sql(
      s"""SELECT m, cell,
         |  transform(array_sort(collect_list(struct(p, comp))),
         |    t -> t.comp) AS c
         |FROM (
         |  SELECT m, cell, p, sum(v) div count(*) AS comp
         |  FROM (
         |    SELECT pos div $PqDim AS m, $cellOfM AS cell,
         |      pos % $PqDim AS p, v
         |    FROM (SELECT x4, ${seedCells.mkString(",\n      ")}
         |          FROM ipq_base$trainCond)
         |    LATERAL VIEW posexplode(x4) t AS pos, v)
         |  GROUP BY m, cell, p)
         |GROUP BY m, cell""".stripMargin)
      .collect()
      .map(r => (r.getLong(0).toInt, r.getLong(1), r.getSeq[Long](2).toSeq))
    val codebooks = (0 until PqM).map { m =>
      cbRows.filter(_._1 == m).map(t => (t._2, t._3)).toSeq
    }
    val codeCols = (0 until PqM).map { m =>
      s"${argminS(ipqSliceS(m), codebooks(m))} AS code_$m"
    }
    val codes = s.sql(
      s"""SELECT vec_id, ${argminS("x4", cents)} AS cell,
         |  ${codeCols.mkString(",\n  ")}
         |FROM ipq_base$trainCond""".stripMargin)
      .truncated()
    // the code table is materialized; drop the view so nothing pins the
    // corpus-sized base checkpoint (ContextCleaner frees its blocks
    // once the frame is unreachable)
    s.catalog.dropTempView("ipq_base")
    IvfPqModel(cents, codebooks, codes)
  }

  /** Materialize (or reuse) the model and register the serving views:
    * `ipq_cents` (4-row coarse centroids), `ipq_codes` (the PQ index),
    * `ipq_queries` (the query batch's raw vectors — the only corpus
    * read in the ADC serving plan; asymmetric ADC keeps queries
    * uncompressed).
    */
  /** Drop entries whose session has stopped — they pin the dead
    * session's object graph (and its checkpointed code table) forever.
    */
  private def purgeDeadSessions(): Unit = {
    ivfpqModelCache.keys
      .filter(_._1.sparkContext.isStopped)
      .foreach(ivfpqModelCache.remove)
    val it = modelLocks.keySet().iterator()
    while (it.hasNext) if (it.next()._1.sparkContext.isStopped) it.remove()
  }

  private def registerServing(s: SparkSession, dir: String): IvfPqModel = {
    purgeDeadSessions()
    val model = cachedModel(s, dir)
    registerServingViews(s, dir, model)
    model
  }

  /** Disk persistence for a trained IVF-PQ index — the cross-SESSION
    * serving story the in-memory cache deliberately does not cover
    * (its checkpointed code table dies with the session that trained
    * it). The model side (coarse centroids + sub-codebooks, a few
    * hundred longs) lands as one JSON file; the index side (the PQ
    * code table — 5 small ints per corpus vector) as parquet, the
    * format a 1000-executor serving job would scan cell-pruned.
    * Everything is exact integers, so a load is bit-identical to the
    * model that was saved and the serving plan over it reproduces the
    * oracle byte-for-byte.
    */
  private[graft] object IvfPqStore {

    def save(model: IvfPqModel, dir: String,
             parent: Option[String] = None): Unit = {
      model.codes.write.mode("overwrite").parquet(s"$dir/codes")
      // the delta link precedes the marker: a committed delta
      // generation must always carry its chain
      parent.foreach(graft.operators.StoreFiles.writeParent(dir, _))
      def cseq(xs: Seq[(Long, Seq[Long])]): String =
        xs.sortBy(_._1).map { case (cell, c) =>
          s"""{"cell": $cell, "c": ${c.mkString("[", ",", "]")}}"""
        }.mkString("[", ",\n  ", "]")
      val json =
        s"""{"cents": ${cseq(model.cents)},
           |"codebooks": ${model.codebooks
              .map(cseq).mkString("[\n ", ",\n ", "\n]")}}""".stripMargin
      // model.json is the store's exists() marker, so it lands LAST
      // (after the codes parquet) and atomically: a crash mid-write
      // must not leave a truncated marker that later calls accept as a
      // complete store. Temp + ATOMIC_MOVE is the same discipline as
      // ShardManifest.write.
      val tmp = java.nio.file.Paths.get(dir, "model.json.tmp")
      java.nio.file.Files.write(tmp,
        json.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      java.nio.file.Files.move(tmp,
        java.nio.file.Paths.get(dir, "model.json"),
        java.nio.file.StandardCopyOption.ATOMIC_MOVE,
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    }

    def load(s: SparkSession, dir: String): IvfPqModel = {
      import scala.jdk.CollectionConverters._
      val root = new com.fasterxml.jackson.databind.ObjectMapper()
        .readTree(java.nio.file.Files.readAllBytes(
          java.nio.file.Paths.get(dir, "model.json")))
      def cseq(node: com.fasterxml.jackson.databind.JsonNode)
          : Seq[(Long, Seq[Long])] =
        node.elements().asScala.map { e =>
          (e.get("cell").asLong(),
            e.get("c").elements().asScala.map(_.asLong()).toSeq)
        }.toSeq
      IvfPqModel(
        cseq(root.get("cents")),
        root.get("codebooks").elements().asScala.map(cseq).toSeq,
        // chain-aware: a DELTA generation holds only its increment's
        // codes — the served table is the union across its _PARENT
        // chain (identity read for self-contained generations); the
        // model side is frozen across a chain by construction, so the
        // served generation's copy IS the chain's model
        graft.operators.StoreFiles.readRelChain(s, dir, "codes"))
    }
  }

  // -- sim_ivfpq_stored: serve from the DISK-persisted index ------------------
  // Round-trips the model through IvfPqStore and serves from the LOADED
  // copy — never the in-session object that trained it — so the gate
  // pins the full persist/parse/parquet path: any bit lost in the
  // round-trip hash-mismatches against the same oracle the pretrained
  // path uses. The store dir is per-(process, input) like ShardIo's
  // scratch stores; within a process the first call trains+saves and
  // every later call is pure load+serve (the restarted-session story
  // at fixture scale).
  /** Per-(process, corpus) full-corpus-trained store: first caller
    * trains+saves, later calls are pure load — shared by the batch
    * stored-serve key and the streaming ANN serve gates so both faces
    * provably serve the SAME persisted index.
    */
  private[graft] def ensureIvfPqStore(s: SparkSession, dir: String): String = {
    purgeDeadSessions()
    // the ONE scratch-naming idiom (StoreFiles.scratchDir) — this was
    // its fourth inline copy; a normalization fix there must reach the
    // batch-stored face too or the "same persisted index" guarantee
    // splits between the batch and streaming paths
    val out = StoreFiles.scratchDir("graft_ivfpq_", dir)
    // The exists/train/save check-then-act is guarded per store dir:
    // two sessions in one process hitting the same scratch dir must
    // not interleave a save with a load of the half-written store.
    // (Cross-process the pid-suffixed dir already isolates.)
    StoreFiles.ensure(out) {
      new java.io.File(out).mkdirs()
      IvfPqStore.save(cachedModel(s, dir), out)
    }
  }

  private def simIvfPqStored(s: SparkSession, dir: String): DataFrame = {
    val stored = IvfPqStore.load(s, ensureIvfPqStore(s, dir))
    registerServingViews(s, dir, stored)
    s.sql(s"WITH ${servingCtes(stored)}\n" +
      servingAdcSelect(3, ordered = true))
  }

  // -- sim_ivfpq_fold_stored: FAISS-style add() into the SERVED index ---------
  // Production ANN indexes are not retrained per ingest batch:
  // codebooks are trained once on a snapshot, persisted, and every
  // later batch is ENCODED with the frozen model and appended to the
  // stored code table (Jégou et al. §V serving practice; the standard
  // IndexIVFPQ add path). This key pins that story end to end:
  // generation 0 trains on the FIRST HALF of the candidate corpus
  // (vec_id < IvfTrainOld) and persists; every call then loads gen 0,
  // encodes the REST of the corpus with the LOADED frozen codebooks —
  // the measured add(): one narrow broadcast-model kernel pass, no
  // Lloyd statistics, no shuffle — unions the stored codes, and
  // serves the unchanged ADC plan over the folded table. The coarse
  // quantizer is init-only (cents = the first KmK vectors, all inside
  // the training half), so cell geometry is identical across
  // generations by construction; only the PQ codebook statistics
  // narrow to the training half, which is exactly what the oracle
  // restates (pa1/pc1 over the training rows, pa2/cd over everything).
  // (IvfTrainOld itself is declared above the fold oracle — see its
  // init-order note.)

  /** Encode `where`-rows of the corpus with a LOADED frozen model —
    * the add() pass: coarse cell + PqM codes, all broadcast-codebook
    * [[argminS]] kernel argmins, one narrow map-side projection.
    */
  private[graft] def ivfPqEncode(s: SparkSession, dir: String,
                                 model: IvfPqModel,
                                 where: String): DataFrame = {
    val codeCols = (0 until PqM).map { m =>
      s"${argminS(ipqSliceS(m), model.codebooks(m))} AS code_$m"
    }
    table(s, dir, "embeddings")
      .selectExpr("vec_id", s"$x4S AS x4")
      .where(where)
      .selectExpr(
        Seq("vec_id", s"${argminS("x4", model.cents)} AS cell") ++
          codeCols: _*)
  }

  /** Write the NEXT-GENERATION store at `out`: cents/codebooks frozen
    * (copied), codes = stored UNION the newly encoded rows. Stores
    * are IMMUTABLE — the caller manages generation paths like any
    * object-store dataset version (the [[BandedStore.foldInto]]
    * discipline); the prior generation is never
    * touched, so a reader serving it is never disturbed.
    */
  private[graft] def ivfPqStoreFoldInto(s: SparkSession, dir: String,
                                        store: String, out: String,
                                        where: String,
                                        delta: Boolean = false): Unit = {
    if (delta)
      require(StoreFiles.normParent(out) == StoreFiles.normParent(store),
        "a delta generation links its parent by bare sibling name — " +
          s"$out and $store must share a root")
    val prior = IvfPqStore.load(s, store)
    new java.io.File(out).mkdirs()
    // delta: only the increment's codes land (bytes ∝ batch); the
    // frozen model JSON is copied — it is the serve-time source of
    // cents/codebooks and byte-sized, so duplicating it keeps every
    // generation loadable on its own chain
    IvfPqStore.save(
      IvfPqModel(prior.cents, prior.codebooks,
        if (delta) ivfPqEncode(s, dir, prior, where)
        else prior.codes.union(ivfPqEncode(s, dir, prior, where))),
      out,
      parent = if (delta)
        Some(graft.operators.StoreFiles.parentGenName(store))
      else None)
  }

  /** Per-(process, corpus) generation-0 store: first caller trains the
    * half-corpus codebooks and persists; later calls are pure load.
    */
  private[graft] def ensureIvfPqOldStore(s: SparkSession,
                                         dir: String): String = {
    purgeDeadSessions()
    val store = StoreFiles.scratchDir("graft_ivfpq0_", dir)
    StoreFiles.ensure(store) {
      StoreKind.IvfPq.build(s, dir, store, Some(s"vec_id < $IvfTrainOld"))
    }
  }

  /** Per-(process, corpus) three-generation IVF-PQ chain under a
    * pointer-managed root (the StoreCtl discipline, driven in-process):
    * gen-0 trains the frozen codebooks on the first candidate half and
    * flips; gen-1 folds the remaining candidates; gen-2 folds the
    * query rows — each an immutable generation landed marker-last and
    * then flipped, so the served path always resolves through
    * `_CURRENT.json` exactly as a cron'd `StoreCtl advance` leaves it.
    * Returns the SERVED generation's path.
    */
  private[graft] def ensureIvfPqGenChain(s: SparkSession,
                                         dir: String): String = {
    purgeDeadSessions()
    val root = graft.operators.StoreFiles.scratchDir("graft_ivfpqgen_", dir)
    StoreFiles.locked(root) {
      // the chain's completion marker is the pointer NAMING gen-2 —
      // not merely a servable root: the pointer lands after every
      // generation, so a crash mid-chain leaves it at gen-0/gen-1 and
      // a serve(root).isRight guard would silently serve the
      // incomplete index forever. Rebuilding from the top is safe:
      // every landing is mode-overwrite with an atomic marker.
      if (graft.operators.StoreFiles.readCurrent(root)
          .map(_._1) != Some("gen-2")) {
        StoreKind.IvfPq.build(s, dir, s"$root/gen-0",
          Some(s"vec_id < $IvfTrainOld"))
        def flipOrThrow(gen: String): Unit =
          graft.operators.StoreFiles.flip(root, gen) match {
            case Left(e)  => throw new IllegalStateException(e)
            case Right(_) => ()
          }
        flipOrThrow("gen-0")
        ivfPqStoreFoldInto(s, dir, s"$root/gen-0", s"$root/gen-1",
          s"vec_id >= $IvfTrainOld AND vec_id < $IvfQ")
        flipOrThrow("gen-1")
        ivfPqStoreFoldInto(s, dir, s"$root/gen-1", s"$root/gen-2",
          s"vec_id >= $IvfQ")
        flipOrThrow("gen-2")
      }
    }
    graft.operators.StoreFiles.serve(root) match {
      case Right(p) => p
      case Left(e)  => throw new IllegalStateException(e)
    }
  }

  // -- sim_ann_recall_stored: measured recall of the SERVED fold chain --------
  // The drift alarm a serving deployment runs before trusting a cron'd
  // `StoreCtl advance`: codebooks are frozen at gen-0 and every later
  // generation only APPENDS codes, so quantization error against the
  // growing corpus is assumed, not bounded — this key MEASURES it, the
  // sim_ann_recall report restated for the persisted IVF-PQ family.
  // The chain is real (three generations, pointer-served — see
  // ensureIvfPqGenChain); the ADC ranking comes from the LOADED gen-2
  // model through the identical serving plan as sim_ivfpq_stored.
  // Report shape follows the family's two measurement doctrines:
  //   - ground truth is the exact integer-L2 top-3 WITHIN the query's
  //     probed-cell pool (ivfpqServingCandidates' argument: pool-
  //     restricted recall isolates QUANTIZATION loss; global recall
  //     additionally charges the coarse probe's coverage, which at
  //     the spec constants — K=4 cells, nprobe 2, near-uniform noise
  //     vectors — is low by construction);
  //   - the served side is the refine stage's candidate WINDOW (ADC
  //     top-RefineR), because that is what the production pipeline
  //     consumes: an exact-top-3 member inside the window survives the
  //     exact re-rank by definition, so n_found is precisely the
  //     recall@3 of the deployed ADC→refine cascade. Raw ADC top-3 on
  //     this noise fixture reads 0 for every query — a report that
  //     cannot move is no alarm.
  // n_found / recall_micro are exact integers, so the report
  // hash-verifies cross-engine against the self-contained
  // train-narrowed oracle.
  private def simAnnRecallStored(s: SparkSession, dir: String): DataFrame = {
    annRecallStoredFrame(s, dir,
      IvfPqStore.load(s, ensureIvfPqGenChain(s, dir)))
  }

  /** The recall report over an arbitrary frozen-codebook model —
    * split out so AnnRecallStoredSpec can pin that the pointer-served
    * CHAIN adds zero drift over the one-shot in-memory fold (any
    * recall loss is the model's quantization, never the store's).
    */
  private[graft] def annRecallStoredFrame(s: SparkSession, dir: String,
                                          model: IvfPqModel): DataFrame = {
    registerServingViews(s, dir, model)
    applyRecallSample(s)
    table(s, dir, "embeddings")
      .selectExpr("vec_id", s"$x4S AS x4")
      .createOrReplaceTempView("ipq_ex_base")
    // The exact side's distance grid is PROJECTED (d) and
    // hash-REPARTITIONED on the window key via the DataFrame API
    // (r21): with the distance left in the window's ORDER BY, the
    // planner evaluated it AFTER the serving chain's exchange — whose
    // few MB of shuffled bytes AQE's size-based coalescer folded to
    // ONE partition, serializing the whole O(queries x pool) distance
    // pass on one core (guide §2.5's CPU-vs-bytes skew). Projecting d
    // computes it in the parallel join stage, and the explicit
    // repartition both parallelizes the window sort and is exempt
    // from AQE coalescing (a SQL /*+ REPARTITION */ hint in this
    // CTE shape was silently dropped — hence the API form). Same
    // expression, same ordering, same rows out.
    val exP = s.conf.get("spark.sql.shuffle.partitions").toInt
    // the candidate-id pool is cheap to enumerate wherever it runs;
    // the ROUND-ROBIN repartition below is what the planner can
    // neither elide (different partitioning type from any hash chain)
    // nor AQE-coalesce (user-numbered), so the x4 attach + distance
    // arithmetic after it run exP-way parallel
    s.sql(
      s"""WITH ${servingCtes(model)}
         |SELECT ql.vec_id AS query_id, codes.vec_id AS neighbor_id
         |FROM ql JOIN ipq_codes codes
         |  ON codes.cell = ql.cell AND codes.vec_id < $IvfQ""".stripMargin)
      .repartition(exP)
      .join(s.table("ipq_ex_base")
        .selectExpr("vec_id AS query_id", "x4 AS qx4"), "query_id")
      .join(s.table("ipq_ex_base")
        .selectExpr("vec_id AS neighbor_id", "x4 AS cx4"), "neighbor_id")
      .selectExpr("query_id", "neighbor_id",
        s"${distS("qx4", "cx4")} AS d")
      .createOrReplaceTempView("ipq_ex_grid")
    s.sql(
      s"""WITH ${servingCtes(model)},
         |ann AS (${servingAdcSelect(RefineR, ordered = false)}),
         |ex AS (
         |  SELECT query_id, neighbor_id FROM (
         |    SELECT query_id, neighbor_id,
         |      row_number() OVER (PARTITION BY query_id
         |        ORDER BY d, neighbor_id) AS rnk
         |    FROM ipq_ex_grid)
         |  WHERE rnk <= 3)
         |SELECT ex.query_id,
         |  cast(count(ann.neighbor_id) as bigint) AS n_found,
         |  cast(count(ann.neighbor_id) as bigint) * 1000000 div 3
         |    AS recall_micro
         |FROM ex LEFT JOIN ann ON ex.query_id = ann.query_id
         |  AND ex.neighbor_id = ann.neighbor_id
         |GROUP BY ex.query_id ORDER BY ex.query_id""".stripMargin)
  }

  /** The recall oracle: the fold chain's ADC top-RefineR window
    * restated self-contained (Lloyd statistics narrowed to the gen-0
    * training half — [[simIvfPqFoldStoredSql]]'s trainWhere), joined
    * against the exact integer-L2 top-3 within the probed-cell pool,
    * aggregated to the per-query report. Lazy: RefineR is declared
    * further down the object (next to the refine stage it names); a
    * strict val here would read it as 0 at init.
    */
  private lazy val simAnnRecallStoredSql =
    s"""WITH base AS (SELECT vec_id, $x4D AS x4 FROM embeddings),
       |${ivfpqCtes("base",
          m => s"x4[${PqDim * m + 1}:${PqDim * m + PqDim}]",
          assignD, assignD2, pqCentD,
          trainWhere = s"vec_id < $IvfTrainOld")},
       |ann AS (${ivfpqAdcSelect(distD, RefineR, ordered = false)}),
       |ex AS (
       |  SELECT query_id, neighbor_id FROM (
       |    SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
       |      row_number() OVER (PARTITION BY q.vec_id
       |        ORDER BY ${distD("qb.x4", "c.x4")}, c.vec_id) AS rnk
       |    FROM q JOIN cand ON cand.cell = q.cell
       |    JOIN base qb ON qb.vec_id = q.vec_id
       |    JOIN base c ON c.vec_id = cand.vec_id)
       |  WHERE rnk <= 3)
       |SELECT ex.query_id,
       |  CAST(COUNT(ann.neighbor_id) AS BIGINT) AS n_found,
       |  CAST(COUNT(ann.neighbor_id) AS BIGINT) * 1000000 // 3
       |    AS recall_micro
       |FROM ex LEFT JOIN ann ON ex.query_id = ann.query_id
       |  AND ex.neighbor_id = ann.neighbor_id
       |GROUP BY ex.query_id ORDER BY ex.query_id""".stripMargin

  // -- sim_ann_recall_global: GLOBAL recall of the served fold chain ----------
  // The companion to sim_ann_recall_stored's pool-restricted doctrine:
  // ground truth here is the exact integer-L2 top-3 over the WHOLE
  // candidate corpus (brute force — the oracle shape, never the
  // serving path), so the report charges probe coverage AND
  // quantization AND the store chain together. On the driver's
  // near-uniform noise fixture the number is LOW BY CONSTRUCTION
  // (KmK=4 cells, nprobe 2: a query's true neighbors spread across
  // cells roughly uniformly, so coverage alone caps recall near
  // nprobe/K) — that is the honest reading, stated rather than
  // hidden, and the report still hash-verifies cross-engine because
  // every quantity is an exact integer. The STRUCTURED-fixture floor
  // (planted clusters, where global recall ≈ 1.0 and a mis-probed
  // serve fails it) lives in AnnRecallGlobalSpec; this key keeps the
  // same measurement continuously verified on the driver data.
  private def simAnnRecallGlobal(s: SparkSession, dir: String): DataFrame = {
    annRecallGlobalFrame(s, dir,
      IvfPqStore.load(s, ensureIvfPqGenChain(s, dir)))
  }

  /** Global-truth recall report over an arbitrary frozen-codebook
    * model — [[annRecallStoredFrame]] with the exact side unrestricted
    * (queries x full candidate corpus; the brute-force exactness
    * oracle, fixture-scale by doctrine).
    */
  private[graft] def annRecallGlobalFrame(s: SparkSession, dir: String,
                                          model: IvfPqModel): DataFrame = {
    registerServingViews(s, dir, model)
    applyRecallSample(s)
    // the exact side is a query x corpus nested-loop (the brute-force
    // oracle shape) — repartition the query side up front: the scan
    // lands in 1-2 file partitions and the NLJ inherits them, which
    // serializes the whole distance grid on two cores
    table(s, dir, "embeddings")
      .selectExpr("vec_id", s"$x4S AS x4")
      .repartition(s.conf.get("spark.sql.shuffle.partitions").toInt)
      .createOrReplaceTempView("ipq_exg_base")
    // distance projected + explicit API repartition on the window
    // key — see annRecallStoredFrame's note (r21): the whole
    // O(queries x corpus) brute-force pass otherwise ran on ONE core
    // (measured 8.0 of the query's 9.3 CPU-s in a single task at
    // sf0.1, AQE having coalesced the small-bytes/huge-CPU exchange).
    val exP = s.conf.get("spark.sql.shuffle.partitions").toInt
    // the query batch is ROUND-ROBIN repartitioned before the
    // query x corpus cross: a hash repartition on the window key was
    // elided (the serving chain already claims that partitioning) and
    // the chain's own exchange AQE-coalesces to 1, which serialized
    // the whole distance grid; round-robin is neither elidable nor
    // coalescible, so the nested-loop + distance pass runs exP-way
    s.sql(
      s"""WITH ${servingCtes(model)}
         |SELECT qb.vec_id AS query_id, qb.x4 AS qx4
         |FROM (SELECT DISTINCT vec_id FROM ql) q0
         |JOIN ipq_exg_base qb ON qb.vec_id = q0.vec_id""".stripMargin)
      .repartition(exP)
      .crossJoin(s.table("ipq_exg_base")
        .where(s"vec_id < $IvfQ")
        .selectExpr("vec_id AS neighbor_id", "x4 AS cx4"))
      .selectExpr("query_id", "neighbor_id",
        s"${distS("qx4", "cx4")} AS d")
      .createOrReplaceTempView("ipq_exg_grid")
    s.sql(
      s"""WITH ${servingCtes(model)},
         |ann AS (${servingAdcSelect(RefineR, ordered = false)}),
         |ex AS (
         |  SELECT query_id, neighbor_id FROM (
         |    SELECT query_id, neighbor_id,
         |      row_number() OVER (PARTITION BY query_id
         |        ORDER BY d, neighbor_id) AS rnk
         |    FROM ipq_exg_grid)
         |  WHERE rnk <= 3)
         |SELECT ex.query_id,
         |  cast(count(ann.neighbor_id) as bigint) AS n_found,
         |  cast(count(ann.neighbor_id) as bigint) * 1000000 div 3
         |    AS recall_micro
         |FROM ex LEFT JOIN ann ON ex.query_id = ann.query_id
         |  AND ex.neighbor_id = ann.neighbor_id
         |GROUP BY ex.query_id ORDER BY ex.query_id""".stripMargin)
  }

  /** The global-recall oracle's CTE chain and final aggregate, split
    * so the SAMPLED key's oracle composes the IDENTICAL computation
    * with an end-restriction (see [[simAnnRecallGlobalSampledSql]]).
    */
  private lazy val annRecallGlobalCtes =
    s"""WITH base AS (SELECT vec_id, $x4D AS x4 FROM embeddings),
       |${ivfpqCtes("base",
          m => s"x4[${PqDim * m + 1}:${PqDim * m + PqDim}]",
          assignD, assignD2, pqCentD,
          trainWhere = s"vec_id < $IvfTrainOld")},
       |ann AS (${ivfpqAdcSelect(distD, RefineR, ordered = false)}),
       |ex AS (
       |  SELECT query_id, neighbor_id FROM (
       |    SELECT q0.vec_id AS query_id, c.vec_id AS neighbor_id,
       |      row_number() OVER (PARTITION BY q0.vec_id
       |        ORDER BY ${distD("qb.x4", "c.x4")}, c.vec_id) AS rnk
       |    FROM (SELECT DISTINCT vec_id FROM q) q0
       |    JOIN base qb ON qb.vec_id = q0.vec_id
       |    JOIN base c ON c.vec_id < $IvfQ)
       |  WHERE rnk <= 3)""".stripMargin

  private lazy val annRecallGlobalSelect =
    s"""SELECT ex.query_id,
       |  CAST(COUNT(ann.neighbor_id) AS BIGINT) AS n_found,
       |  CAST(COUNT(ann.neighbor_id) AS BIGINT) * 1000000 // 3
       |    AS recall_micro
       |FROM ex LEFT JOIN ann ON ex.query_id = ann.query_id
       |  AND ex.neighbor_id = ann.neighbor_id
       |GROUP BY ex.query_id""".stripMargin

  /** The global-recall oracle: [[simAnnRecallStoredSql]] with the
    * exact side unrestricted — queries x the full candidate corpus.
    */
  private lazy val simAnnRecallGlobalSql =
    s"$annRecallGlobalCtes\n$annRecallGlobalSelect ORDER BY ex.query_id"

  /** Query budget of the SAMPLED global-recall bench key: the
    * production alarm cadence the bench prices — 8 smallest-md5 query
    * ids, whatever the corpus size (8 of 8 at sf0.01's fixture, 8 of
    * ~1.5k at sf0.1, 8 of millions in production), so the exact side
    * stays O(sample x corpus) while the FULL key keeps measuring
    * everything in CORRECTNESS.
    */
  private[graft] val RecallBenchSample = 8

  private def simAnnRecallGlobalSampled(s: SparkSession,
                                        dir: String): DataFrame = {
    // the view rebinding happens eagerly inside the frame builder, so
    // the conf restore cannot un-sample the returned plan
    withConf(s, RecallSampleKey -> RecallBenchSample.toString)(
      simAnnRecallGlobal(s, dir))
  }

  /** The sampled oracle: the FULL report's CTE chain, restricted at
    * the end to the deterministic md5 sample — legitimate because
    * each report row is a per-query computation (the doctrine
    * RecallSampleSpec pins: sampling changes which queries are
    * measured, never what any query measures), and md5 hex compares
    * identically in both engines.
    */
  private lazy val simAnnRecallGlobalSampledSql =
    s"""$annRecallGlobalCtes,
       |rep AS ($annRecallGlobalSelect),
       |smp AS (SELECT DISTINCT vec_id FROM q
       |  ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id
       |  LIMIT $RecallBenchSample)
       |SELECT rep.query_id, rep.n_found, rep.recall_micro FROM rep
       |JOIN smp ON rep.query_id = smp.vec_id
       |ORDER BY rep.query_id""".stripMargin

  private def simIvfPqFoldStored(s: SparkSession, dir: String): DataFrame = {
    val store = ensureIvfPqOldStore(s, dir)
    val prior = IvfPqStore.load(s, store)
    // the measured add: encode everything past the training half with
    // the LOADED frozen model, then serve ADC over stored + added.
    // Deliberately NOT cached in ivfpqModelCache: that cache holds
    // full-corpus-trained models (sim_ivfpq_pretrained's contract) and
    // a half-trained fold model must never masquerade as one.
    val folded = IvfPqModel(prior.cents, prior.codebooks,
      prior.codes.union(
        ivfPqEncode(s, dir, prior, s"vec_id >= $IvfTrainOld")))
    registerServingViews(s, dir, folded)
    s.sql(s"WITH ${servingCtes(folded)}\n" +
      servingAdcSelect(3, ordered = true))
  }

  /** Query-sampling knob for the recall alarms (r19): when set to
    * n >= 1, [[annRecallStoredFrame]] / [[annRecallGlobalFrame]] (and
    * `StoreCtl recall --sample n`) measure only the n query vectors
    * with the smallest md5(cast(vec_id as string)) (vec_id tie-break)
    * — a deterministic, data-independent subset, so the sampled
    * report is EXACTLY the full report restricted to those ids
    * (RecallSampleSpec pins the equality). The knob exists because
    * the global alarm's exact side is O(queries x corpus) BY DOCTRINE
    * (the brute-force oracle shape); on a production store the alarm
    * needs a budget, and "hash the query ids" beats "LIMIT n" (order-
    * dependent) or random sampling (unreproducible across runs). md5
    * rather than xxhash64 (r20) because the oracle engine computes
    * the identical hex — the SAMPLED bench key
    * (sim_ann_recall_global_sampled) gets a cross-engine hash gate at
    * any scale instead of a rows-only check; the hash's only job is
    * deterministic data-independent ordering, which both meet.
    * Off (0 / unset) by default — the driver keys measure every
    * query.
    */
  val RecallSampleKey = "graft.recall.sample"

  /** Re-bind `ipq_queries` to its n-smallest-hash subset when the
    * sampling knob is on. Runs AFTER [[registerServingViews]] and
    * only inside the recall frames — the serving keys
    * (sim_ivfpq_stored et al.) always rank the full query batch.
    * spark.table() resolves the current binding eagerly, so the
    * re-registration cannot self-reference.
    */
  private def applyRecallSample(s: SparkSession): Unit = {
    val raw = s.conf.get(RecallSampleKey, "0")
    // negative values REFUSE rather than silently meaning "sampling
    // off": a typo'd '-5' would otherwise run the unbudgeted
    // O(queries x corpus) exact side the knob exists to avoid
    val n = raw.toIntOption.filter(_ >= 0)
      .getOrElse(throw new IllegalArgumentException(
        s"$RecallSampleKey must be a non-negative int, got '$raw'"))
    if (n > 0)
      s.table("ipq_queries")
        .orderBy(md5(col("vec_id").cast("string")), col("vec_id"))
        .limit(n)
        .select("vec_id", "x4")
        .createOrReplaceTempView("ipq_queries")
  }

  private def registerServingViews(s: SparkSession, dir: String,
                                   model: IvfPqModel): Unit = {
    import s.implicits._
    model.cents.toDF("cell", "c").createOrReplaceTempView("ipq_cents")
    model.codes.createOrReplaceTempView("ipq_codes")
    table(s, dir, "embeddings")
      .selectExpr("vec_id", s"$x4S AS x4")
      .where(col("vec_id") >= IvfQ)
      .createOrReplaceTempView("ipq_queries")
  }

  /** The serving-side CTE chain: probed query batch (`q`) plus its
    * per-subspace ADC lookup tables (`ql`). Real ADC serving: the
    * sub-codebooks are driver-local model data, so they inline as
    * literals and each query precomputes a 4-slot distance LUT per
    * subspace (dist(qs_m, codebook_m[k]) for k=0..3) on the tiny query
    * side. Candidate scoring is then ONE cell equi-join into the code
    * table plus 4 array lookups per candidate — the code table is
    * scanned once and no 16-dim array ever rides a corpus-sized join
    * (the first cut joined the code table to each codebook and chained
    * 4 vec_id joins: 5 corpus-scale scans, and serving benched SLOWER
    * than the train-included query).
    */
  /** Sub-codebook `m` as ONE flattened literal array, dead cells
    * zero-filled (codes never reference a dead cell, so its LUT slot
    * is an arbitrary never-read filler) — shared by the batch serving
    * CTEs and the streaming serve projections so both faces inline
    * the identical codebook bytes.
    */
  private def flatCodebook(model: IvfPqModel, m: Int): String = {
    val byCell = model.codebooks(m).toMap
    (0 until KmK)
      .flatMap(k => byCell.getOrElse(k.toLong, Seq.fill(PqDim)(0L)))
      .map(v => s"${v}L").mkString("array(", ",", ")")
  }

  private def servingCtes(model: IvfPqModel): String = {
    // LUT slot k (1-based element k+1) is the distance to sub-centroid
    // k, via the graft_dist_lut kernel over ONE flattened codebook
    // literal — O(1) generated code in K, like [[argminS]].
    def lut(m: Int): String =
      s"graft_dist_lut(qs$m,\n      ${flatCodebook(model, m)})"
    s"""q AS (SELECT vec_id, cell,
       |    ${(0 until PqM).map(m => s"${ipqSliceS(m)} AS qs$m")
            .mkString(", ")}
       |  FROM (${assignS2("ipq_queries", "ipq_cents")})),
       |ql AS (SELECT vec_id, cell,
       |    ${(0 until PqM).map(m => s"${lut(m)} AS lut$m")
            .mkString(",\n    ")}
       |  FROM q)""".stripMargin
  }

  /** Top-`cap` ADC ranking over the `ql` relation + the code table. */
  private def servingAdcSelect(cap: Int, ordered: Boolean): String =
    s"""SELECT query_id, cell, neighbor_id, adc_dist,
       |  CAST(rnk AS BIGINT) AS rnk FROM (
       |  SELECT query_id, cell, neighbor_id, adc_dist,
       |    row_number() OVER (PARTITION BY query_id
       |      ORDER BY adc_dist, neighbor_id) AS rnk
       |  FROM (
       |    SELECT ql.vec_id AS query_id, ql.cell AS cell,
       |      codes.vec_id AS neighbor_id,
       |      ${(0 until PqM)
              .map(m => s"element_at(ql.lut$m," +
                s" cast(codes.code_$m + 1 as int))")
              .mkString("\n      + ")} AS adc_dist
       |    FROM ql JOIN ipq_codes codes
       |      ON codes.cell = ql.cell AND codes.vec_id < $IvfQ))
       |WHERE rnk <= $cap${if (ordered) " ORDER BY query_id, rnk" else ""}"""
      .stripMargin

  /** STREAMING-side serving candidates (Streams.annServeStream): the
    * same ADC plan as the batch `servingCtes` chain, restated with
    * stream-legal operators only — no window function ranks the probe
    * set; instead ONE graft_dist_lut pass against the coarse
    * centroids scores all KmK cells and an array_sort-and-slice takes
    * the top IvfNprobe (struct order (d, cell) = assignTop's ORDER BY
    * dist, cell tie-break, term-for-term). Per-subspace ADC LUTs then
    * inline the identical [[flatCodebook]] literals the batch face
    * uses, candidates arrive by ONE stream-static equi-join on cell,
    * and each candidate costs PqM array lookups. The array HOFs are
    * CodegenFallback, but they run on the QUERY stream (model-sized
    * work per row), never the corpus side. Input columns: vec_id, ts
    * (epoch-nanos bigint), embedding. Output: query_id, ts, cell,
    * neighbor_id, adc_dist — ranking is the stream operator's job
    * (top-k needs per-query state, which belongs in streaming/).
    */
  private[graft] def annServeCandidates(queries: DataFrame,
                                        model: IvfPqModel): DataFrame = {
    val sorted = model.cents.sortBy(_._1)
    val cellsArr = sorted.map { case (c, _) => s"${c}L" }
      .mkString("array(", ",", ")")
    val flatCents = sorted.flatMap(_._2).map(v => s"${v}L")
      .mkString("array(", ",", ")")
    val probe =
      s"""slice(transform(array_sort(transform(
         |  sequence(0, ${sorted.size - 1}),
         |  c -> struct(element_at(cd, cast(c + 1 as int)) AS d,
         |              element_at($cellsArr, cast(c + 1 as int)) AS cell))),
         |  t -> t.cell), 1, $IvfNprobe)""".stripMargin
    val luts = (0 until PqM).map(m =>
      s"graft_dist_lut(${ipqSliceS(m)}, ${flatCodebook(model, m)}) AS lut$m")
    val candidates = model.codes.where(s"vec_id < $IvfQ")
      .toDF(Seq("neighbor_id", "cell") ++
        (0 until PqM).map(m => s"code_$m"): _*)
    // the query side broadcasts EXPLICITLY: a serving batch is small
    // by contract (queries x nprobe rows) while the code table is
    // corpus-scale — without the hint a fixture-sized optimizer can
    // pick the codes side, the exact shape that does not survive
    // 100 TB (the cell join must stream the codes partitions, never
    // collect them)
    org.apache.spark.sql.functions.broadcast(queries
      .selectExpr("vec_id AS query_id", "ts", s"$x4S AS x4")
      .selectExpr("query_id", "ts", "x4",
        s"graft_dist_lut(x4, $flatCents) AS cd")
      .selectExpr(Seq("query_id", "ts", s"explode($probe) AS cell") ++
        luts: _*))
      .join(candidates, Seq("cell"))
      .selectExpr("query_id", "ts", "cell", "neighbor_id",
        (0 until PqM)
          .map(m => s"element_at(lut$m, cast(code_$m + 1 as int))")
          .mkString(" + ") + " AS adc_dist")
  }

  private def simIvfPqPretrained(s: SparkSession, dir: String): DataFrame = {
    val model = registerServing(s, dir)
    s.sql(s"WITH ${servingCtes(model)}\n" +
      servingAdcSelect(3, ordered = true))
  }

  // -- sim_ivfpq_refine: exact re-rank of the ADC candidates ------------------
  // Production ANN serving refines: ADC ranks candidates from
  // compressed codes (cheap, quantization-noisy), then the top-R
  // survivors are re-scored with EXACT distances against their raw
  // stored vectors and the final top-k is taken from that. This is the
  // standard two-stage shape (coarse probe -> ADC -> exact refine) of
  // IVF-PQ deployments (Jégou et al. §V: re-ranking with stored raw
  // vectors). R = 10 candidates per query feed the refine join, so the
  // corpus-vector read is R rows per query — at scale a point-lookup
  // join against the vector store, never a corpus scan riding the
  // ranking. Output keeps both distances (adc_dist is what the first
  // stage believed; exact_dist is the truth the final rank uses).
  private[graft] val RefineR = 10

  /** Test hook (IvfPqRefineSpec): every (query, candidate) pair the
    * serving path can see — the corpus members of each query's probed
    * cells. Recall against the exact top-k WITHIN this pool is the
    * measurement that isolates what the refine stage buys; recall
    * against the global exact top-k additionally charges the coarse
    * probe's coverage (at this toy scale, K=4 cells / nprobe=2 over
    * near-uniform noise vectors, global coverage is intentionally low
    * — production indexes carry K in the thousands).
    */
  private[graft] def ivfpqServingCandidates(s: SparkSession,
                                            dir: String): DataFrame = {
    val model = registerServing(s, dir)
    s.sql(
      s"""WITH ${servingCtes(model)}
         |SELECT ql.vec_id AS query_id, codes.vec_id AS neighbor_id
         |FROM ql JOIN ipq_codes codes
         |  ON codes.cell = ql.cell AND codes.vec_id < $IvfQ""".stripMargin)
  }

  /** Test hook (IvfPqRefineSpec): the ADC top-R candidate list the
    * refine stage re-ranks, computed independently of the refine query.
    */
  private[graft] def ivfpqAdcTopR(s: SparkSession, dir: String): DataFrame = {
    val model = registerServing(s, dir)
    s.sql(s"WITH ${servingCtes(model)}\n" +
      servingAdcSelect(RefineR, ordered = true))
  }

  private def simIvfPqRefine(s: SparkSession, dir: String): DataFrame = {
    val model = registerServing(s, dir)
    // the refine stage's only other input: raw corpus vectors, joined
    // point-wise on the R*|queries| candidate ids
    table(s, dir, "embeddings")
      .selectExpr("vec_id", s"$x4S AS x4")
      .where(col("vec_id") < IvfQ)
      .createOrReplaceTempView("ipq_corpus")
    s.sql(
      s"""WITH ${servingCtes(model)},
         |adc AS (${servingAdcSelect(RefineR, ordered = false)}),
         |refined AS (
         |  SELECT adc.query_id, adc.neighbor_id, adc.adc_dist,
         |    ${distS("qv.x4", "nv.x4")} AS exact_dist
         |  FROM adc
         |  JOIN ipq_queries qv ON qv.vec_id = adc.query_id
         |  JOIN ipq_corpus nv ON nv.vec_id = adc.neighbor_id)
         |SELECT query_id, neighbor_id, adc_dist, exact_dist,
         |  CAST(rnk AS BIGINT) AS rnk FROM (
         |  SELECT query_id, neighbor_id, adc_dist, exact_dist,
         |    row_number() OVER (PARTITION BY query_id
         |      ORDER BY exact_dist, neighbor_id) AS rnk
         |  FROM refined)
         |WHERE rnk <= 3 ORDER BY query_id, rnk""".stripMargin)
  }

  // Oracle: the full train+probe chain restated (as sim_ivfpq's), ADC
  // capped at RefineR, then the identical exact re-rank — stated
  // against DuckDB's own arithmetic end to end.
  private val simIvfPqRefineSql =
    s"""WITH base AS (SELECT vec_id, $x4D AS x4 FROM embeddings),
       |${ivfpqCtes("base",
          m => s"x4[${PqDim * m + 1}:${PqDim * m + PqDim}]",
          assignD, assignD2, pqCentD)},
       |adc AS (${ivfpqAdcSelect(distD, RefineR, ordered = false)}),
       |refined AS (
       |  SELECT adc.query_id, adc.neighbor_id, adc.adc_dist,
       |    ${distD("qb.x4", "nb.x4")} AS exact_dist
       |  FROM adc
       |  JOIN base qb ON qb.vec_id = adc.query_id
       |  JOIN base nb ON nb.vec_id = adc.neighbor_id)
       |SELECT query_id, neighbor_id, adc_dist, exact_dist,
       |  CAST(rnk AS BIGINT) AS rnk FROM (
       |  SELECT query_id, neighbor_id, adc_dist, exact_dist,
       |    row_number() OVER (PARTITION BY query_id
       |      ORDER BY exact_dist, neighbor_id) AS rnk
       |  FROM refined)
       |WHERE rnk <= 3 ORDER BY query_id, rnk""".stripMargin

  override val queries: Map[String, (SparkSession, String) => DataFrame] =
    Map(
      "sim_ivfpq" -> simIvfPq _,
      "sim_ivfpq_pretrained" -> simIvfPqPretrained _,
      "sim_ivfpq_stored" -> simIvfPqStored _,
      "sim_ivfpq_fold_stored" -> simIvfPqFoldStored _,
      "sim_ivfpq_refine" -> simIvfPqRefine _,
      "sim_pq" -> simPq _,
      "sim_kmeans" -> simKmeans _,
      "sim_norms" -> simNorms _,
      "sim_topk_brute" -> simTopkBrute _,
      "sim_ann_recall" -> simAnnRecall _,
      "sim_ann_recall_stored" -> simAnnRecallStored _,
      "sim_ann_recall_global" -> simAnnRecallGlobal _,
      "sim_ann_recall_global_sampled" -> simAnnRecallGlobalSampled _,
      "sim_range_search" -> simRangeSearch _,
      "sim_negatives" -> simNegatives _,
      "sim_lsh_buckets" -> simLshBuckets _,
      "sim_lsh_ann" -> simLshAnn _,
      "sim_ivf_assign" -> simIvfAssign _,
      "sim_ivf_probe" -> simIvfProbe _,
      "sim_knn_label" -> simKnnLabel _
    )

  override val oracles: Map[String, String] = Map(
    "sim_ivfpq" -> simIvfPqSql,
    // the pretrained serving path must reproduce the spec query
    // byte-for-byte — the oracle restates the full train+score text
    "sim_ivfpq_pretrained" -> simIvfPqSql,
    // the disk round-trip must also reproduce the spec query exactly
    "sim_ivfpq_stored" -> simIvfPqSql,
    "sim_ivfpq_fold_stored" -> simIvfPqFoldStoredSql,
    "sim_ivfpq_refine" -> simIvfPqRefineSql,
    "sim_pq" -> simPqSql,
    "sim_kmeans" -> simKmeansSql,
    "sim_norms" -> simNormsSql,
    "sim_topk_brute" -> simTopkBruteSql,
    "sim_ann_recall" -> simAnnRecallSql,
    "sim_ann_recall_stored" -> simAnnRecallStoredSql,
    "sim_ann_recall_global" -> simAnnRecallGlobalSql,
    "sim_ann_recall_global_sampled" -> simAnnRecallGlobalSampledSql,
    "sim_range_search" -> simRangeSearchSql,
    "sim_negatives" -> simNegativesSql,
    "sim_lsh_buckets" -> simLshBucketsSql,
    "sim_lsh_ann" -> simLshAnnSql,
    "sim_ivf_assign" -> simIvfAssignSql,
    "sim_ivf_probe" -> simIvfProbeSql,
    "sim_knn_label" -> simKnnLabelSql
  )
}
