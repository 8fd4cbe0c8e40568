package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.operators.{BandedStore, Dedup, Multimodal, PairFamily,
  StoreKind}

/** The exact-duplicate bucket bomb — the classic production failure of
  * minhash/phash LSH at corpus scale: k byte-identical copies of one
  * item share every band key, so the banded candidate join emits
  * k²/2 pairs, ALL of which verify (jaccard 1 / hamming 0) and enter
  * the cluster edge set. dd_cluster and mm_phash_cluster defuse it by
  * collapsing identical content to a min-doc_id representative and
  * connecting members with k-1 star edges (ddClusterEdges /
  * mmPhashClusterEdges). This spec pins, on a fixture that CONTAINS a
  * bomb:
  *   - linearity: edges within the duplicate group are exactly k-1;
  *   - exactness: the collapsed assignment equals label propagation
  *     over the UNCOLLAPSED verified pair set;
  *   - the jaccard carve-out: identical TOO-SHORT texts (empty shingle
  *     set, jaccard 0/0) stay singletons — a star edge there would
  *     merge docs the verify never admits.
  */
class DupBombGuardSpec extends AnyFunSuite {

  private val spark = SparkSessionHelper.spark

  private val Bomb = 40
  // >= 64 chars so the phash probe grid has stride >= 1 (sub-64-byte
  // payloads all degenerate to the same stride-0 signature by design)
  private val bombText =
    "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu"

  /** documents.parquet fixture: one 40-copy bomb (ids 0-39), a near-dup
    * of it (id 100: last word differs — 10 of 11 bigram shingles
    * shared, jaccard 10/12 ≈ 0.83, in-threshold), two distinct docs
    * (200, 201), and two identical single-word docs (300, 301: no word
    * bigram, empty shingle set).
    */
  private lazy val dir: String = {
    val d = new java.io.File(
      sys.props.getOrElse("java.io.tmpdir", "/tmp"),
      s"graft_bomb_fixture_p${ProcessHandle.current().pid()}").toString
    val rows =
      (0L until Bomb.toLong).map(i => (i, bombText)) ++ Seq(
        (100L,
          "alpha beta gamma delta epsilon zeta eta theta iota kappa " +
            "lambda nu"),
        (200L,
          "one two three four five six seven eight nine ten eleven " +
            "twelve thirteen"),
        (201L,
          "winter spring summer autumn river mountain forest desert " +
            "ocean valley meadow"),
        (300L, "solo"),
        (301L, "solo"))
    import spark.implicits._
    rows.toDF("doc_id", "text")
      .selectExpr("doc_id", "text", "'xx' AS lang", "'src1' AS source",
        "cast(length(text) as bigint) AS n_chars")
      .coalesce(1).write.mode("overwrite").parquet(s"$d/documents.parquet")
    // embeddings: a 40-copy identical-vector bomb (0-39), a scaled
    // copy (100: cos exactly 1, NOT collapse-key-identical — must
    // reach the bomb through its representative's banding, which is
    // scale-invariant), two distinct vectors (200, 201), and two
    // identical ZERO vectors (300, 301: cos 0/0 = NaN, never an edge —
    // the collapse carve-out must keep them singletons)
    val bombVec = Array(1.0f, 0.25f, -0.5f, 0.125f)
    val vecs: Seq[(Long, Array[Float])] =
      (0L until Bomb.toLong).map(i => (i, bombVec)) ++ Seq(
        (100L, bombVec.map(_ * 2.0f)),
        (200L, Array(-1.0f, 0.5f, 0.25f, -0.125f)),
        (201L, Array(0.125f, -1.0f, 0.5f, 0.25f)),
        (300L, Array(0.0f, 0.0f, 0.0f, 0.0f)),
        (301L, Array(0.0f, 0.0f, 0.0f, 0.0f)))
    vecs.toDF("vec_id", "embedding")
      .selectExpr("vec_id", "embedding", "cast(0 as int) AS label")
      .coalesce(1).write.mode("overwrite").parquet(s"$d/embeddings.parquet")
    d
  }

  private def edges(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
    df.select("doc_a", "doc_b")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet

  private def assignment(df: org.apache.spark.sql.DataFrame)
      : Map[Long, Long] =
    df.select("doc_id", "cluster_id")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

  test("dd_cluster: the bomb contributes k-1 star edges, the assignment " +
      "equals propagation over the uncollapsed pairs, and identical " +
      "too-short docs stay singletons") {
    val es = edges(Dedup.ddClusterEdges(spark, dir))
    val within = es.filter { case (a, b) => a < Bomb && b < Bomb }
    assert(within.size == Bomb - 1,
      s"expected ${Bomb - 1} star edges inside the bomb, got " +
        s"${within.size} — the quadratic clique is back")
    assert(within == (1L until Bomb.toLong).map(i => (0L, i)).toSet)
    // the near-dup reaches the bomb through its representative
    assert(es.contains((0L, 100L)), es.toSeq.sorted.mkString(", "))
    // exactness: same components as the uncollapsed verified pair set
    val uncollapsed = SparkEntry.queries("dd_jaccard")(spark, dir)
    assert(edges(uncollapsed)
      .count { case (a, b) => a < Bomb && b < Bomb } ==
      Bomb * (Bomb - 1) / 2,
      "fixture bomb did not produce the uncollapsed clique: the " +
        "linearity assert above is vacuous")
    val expected = assignment(Dedup.labelPropagate("bomb_ref",
      uncollapsed.select("doc_a", "doc_b"),
      Engine.table(spark, dir, "documents").select("doc_id")))
    val got = assignment(SparkEntry.queries("dd_cluster")(spark, dir))
    assert(got == expected)
    // carve-out: identical single-word docs share md5(text) but have
    // empty shingle sets — never an edge, so never a star edge
    assert(got(300L) == 300L && got(301L) == 301L)
    // and the bomb is one cluster rooted at the min doc_id
    (0L until Bomb.toLong).foreach(i => assert(got(i) == 0L))
    assert(got(100L) == 0L)
    assert(got(200L) == 200L && got(201L) == 201L)
  }

  test("mm_phash_cluster: the bomb contributes k-1 star edges and the " +
      "assignment equals propagation over the uncollapsed pairs") {
    val es = edges(Multimodal.mmPhashClusterEdges(spark, dir))
    val within = es.filter { case (a, b) => a < Bomb && b < Bomb }
    assert(within.size == Bomb - 1,
      s"expected ${Bomb - 1} star edges inside the bomb, got " +
        s"${within.size}")
    val uncollapsed = SparkEntry.queries("mm_phash_pairs")(spark, dir)
    assert(edges(uncollapsed)
      .count { case (a, b) => a < Bomb && b < Bomb } ==
      Bomb * (Bomb - 1) / 2,
      "fixture bomb did not produce the uncollapsed phash clique")
    val expected = assignment(Dedup.labelPropagate("bomb_ref_mm",
      uncollapsed.select("doc_a", "doc_b"),
      Engine.table(spark, dir, "documents").select("doc_id")))
    val got = assignment(
      SparkEntry.queries("mm_phash_cluster")(spark, dir))
    assert(got == expected)
    (0L until Bomb.toLong).foreach(i => assert(got(i) == 0L))
    // identical single-word payloads DO pair on the phash side
    // (hamming 0 is a true edge — no empty-set carve-out for media)
    assert(got(300L) == 300L && got(301L) == 300L)
  }

  test("dd_embed_cluster: the bomb contributes k-1 star edges, a scaled " +
      "copy reaches it through the representative's banding, the " +
      "assignment equals propagation over the uncollapsed pairs, and " +
      "identical zero vectors stay singletons") {
    def vedges(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
      df.select("vec_a", "vec_b")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val es = vedges(Dedup.embedClusterEdges(spark, dir))
    val within = es.filter { case (a, b) => a < Bomb && b < Bomb }
    assert(within.size == Bomb - 1,
      s"expected ${Bomb - 1} star edges inside the bomb, got " +
        s"${within.size} — the quadratic clique is back")
    // the scaled copy is NOT key-identical but cos-sim 1; RH-LSH
    // bucketing is scale-invariant, so it reaches the rep by banding
    assert(es.contains((0L, 100L)), es.toSeq.sorted.mkString(", "))
    val uncollapsed = SparkEntry.queries("dd_embed_cosine_lsh")(spark, dir)
    assert(vedges(uncollapsed)
      .count { case (a, b) => a < Bomb && b < Bomb } ==
      Bomb * (Bomb - 1) / 2,
      "fixture bomb did not produce the uncollapsed clique: the " +
        "linearity assert above is vacuous")
    val expected = assignment(Dedup.labelPropagate("bomb_ref_embed",
      uncollapsed.selectExpr("vec_a AS doc_a", "vec_b AS doc_b"),
      Engine.table(spark, dir, "embeddings")
        .selectExpr("vec_id AS doc_id")))
    val got = SparkEntry.queries("dd_embed_cluster")(spark, dir)
      .selectExpr("vec_id AS doc_id", "cluster_id")
    val gotMap = assignment(got)
    assert(gotMap == expected)
    (0L until Bomb.toLong).foreach(i => assert(gotMap(i) == 0L))
    assert(gotMap(100L) == 0L)
    // zero vectors: identical by key but excluded from collapse —
    // NaN cosine is never an edge, so they must stay singletons
    assert(gotMap(300L) == 300L && gotMap(301L) == 301L)
  }

  /** Bombed-INCREMENT fixture: the duplicate bomb arrives as the NEW
    * batch (source src10) — the exact shape a crawler feeds a
    * production incremental clustering — plus an old doc identical to
    * the bomb text (one crossing edge must survive the per-side
    * collapse), an old near-dup pair (a phase-1 old-old edge), an old
    * distinct doc, and two identical too-short NEW docs (the
    * carve-out must hold on the new side too).
    */
  private lazy val incDir: String = {
    val d = new java.io.File(
      sys.props.getOrElse("java.io.tmpdir", "/tmp"),
      s"graft_bombinc_fixture_p${ProcessHandle.current().pid()}").toString
    val rows: Seq[(Long, String, String)] =
      (0L until Bomb.toLong).map(i => (i, bombText, "src10")) ++ Seq(
        (50L, bombText, "src1"),
        (200L,
          "winter spring summer autumn river mountain forest desert " +
            "ocean valley meadow", "src1"),
        (210L,
          "one two three four five six seven eight nine ten eleven " +
            "twelve thirteen", "src1"),
        (211L,
          "one two three four five six seven eight nine ten eleven " +
            "twelve fourteen", "src1"),
        (300L, "solo", "src10"),
        (301L, "solo", "src10"))
    import spark.implicits._
    rows.toDF("doc_id", "text", "source")
      .selectExpr("doc_id", "text", "'xx' AS lang", "source",
        "cast(length(text) as bigint) AS n_chars")
      .coalesce(1).write.mode("overwrite").parquet(s"$d/documents.parquet")
    d
  }

  test("dd_cluster_incremental: a bombed NEW batch contributes k-1 star " +
      "edges plus one rep-rep crossing edge, the assignment equals " +
      "propagation over the uncollapsed pairs, and identical too-short " +
      "new docs stay singletons") {
    val tagged = Dedup.ddClusterIncrementalEdges(spark, incDir)
      .select("doc_a", "doc_b", "a_new", "b_new")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1),
        r.getBoolean(2), r.getBoolean(3)))
    val es = tagged.map(t => (t._1, t._2)).toSet
    // linearity inside the new bomb: k-1 star edges rooted at the
    // side's min doc_id, all tagged new-new
    val within = tagged.filter(t => t._1 < Bomb && t._2 < Bomb)
    assert(within.length == Bomb - 1,
      s"expected ${Bomb - 1} star edges inside the new bomb, got " +
        s"${within.length} — the quadratic increment clique is back")
    assert(within.map(t => (t._1, t._2)).toSet ==
      (1L until Bomb.toLong).map(i => (0L, i)).toSet)
    assert(within.forall(t => t._3 && t._4))
    // exactly ONE crossing edge to the identical old doc — rep-rep,
    // never member-fanout — and it is tagged as an increment edge
    val crossing = tagged.filter(t => t._2 == 50L || t._1 == 50L)
    assert(crossing.map(t => (t._1, t._2)).toSeq == Seq((0L, 50L)),
      crossing.mkString(", "))
    assert(crossing.forall(t => t._3 != t._4))
    // the old near-dup pair survives as a phase-1 (old-old) edge
    assert(tagged.exists(t =>
      t._1 == 210L && t._2 == 211L && !t._3 && !t._4))
    // O(k) total: 39 stars + 1 crossing + 1 old-old near-dup
    assert(tagged.length == Bomb + 1, tagged.length)
    assert(!es.exists { case (a, b) => a >= 300L || b >= 300L })
    // non-vacuous: the uncollapsed verified pair set DOES contain the
    // clique over bomb ∪ {50} (C(41,2) pairs) plus the near-dup pair
    val uncollapsed = SparkEntry.queries("dd_jaccard")(spark, incDir)
    val uset = edges(uncollapsed)
    assert(uset.count { case (a, b) => (a < Bomb || a == 50L) &&
      (b < Bomb || b == 50L) } == (Bomb + 1) * Bomb / 2,
      "fixture bomb did not produce the uncollapsed old∪new clique: " +
        "the linearity asserts above are vacuous")
    assert(uset.contains((210L, 211L)),
      "banding missed the old near-dup pair — the phase-1 assert " +
        "above is vacuous")
    // exactness: the two-phase contracted run over collapsed edges
    // equals label propagation over the uncollapsed verified pairs
    val expected = assignment(Dedup.labelPropagate("bomb_ref_inc",
      uncollapsed.select("doc_a", "doc_b"),
      Engine.table(spark, incDir, "documents").select("doc_id")))
    val got = assignment(
      SparkEntry.queries("dd_cluster_incremental")(spark, incDir))
    assert(got == expected)
    (0L until Bomb.toLong).foreach(i => assert(got(i) == 0L))
    assert(got(50L) == 0L)
    assert(got(210L) == 210L && got(211L) == 210L)
    assert(got(200L) == 200L)
    // carve-out on the NEW side: identical single-word docs share the
    // collapse key's hash input but have empty shingle sets — no star
    // edges, so they stay singletons
    assert(got(300L) == 300L && got(301L) == 301L)
  }

  test("dd_jaccard: the bombed pair table verifies once per group — " +
      "rep-level pairs are O(groups) while the member expansion still " +
      "emits the full clique") {
    // incDir's 41 identical texts (new bomb 0-39 + old twin 50) are
    // ONE collapse group here (the pair table has no batch sides), so
    // the rep-level relation holds only the genuine near-dup pair —
    // zero verifies spent on the clique
    val reps = BandedStore.relations(PairFamily.Jaccard, spark, incDir).repVer
      .select("rep_a", "rep_b")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(reps == Set((210L, 211L)), reps)
    // ...and the member expansion still answers the all-pairs spec:
    // the full C(41,2) clique plus the near-dup pair, with the
    // within-group rows carrying jaccard exactly 1
    val full = SparkEntry.queries("dd_jaccard")(spark, incDir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(full.length == 41 * 40 / 2 + 1, full.length)
    assert(full.filter(t => t._1 != 210L).forall(_._3 == 1.0d))
  }

  test("dd_containment: the bombed pair table verifies once per group — " +
      "rep-level pairs are O(groups) while the member expansion still " +
      "emits the full clique at containment 1.0") {
    // identical texts have containment 1.0 >= 0.8, so an unguarded
    // containment pair table detonates on the same bomb jaccard's
    // does; incDir's 41 identical texts are ONE collapse group, so
    // the rep relation holds only the genuine near-dup pair
    // (containment 11/12 — one bigram of twelve differs)
    val reps = BandedStore.relations(PairFamily.Containment, spark, incDir).repVer
      .select("rep_a", "rep_b")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(reps == Set((210L, 211L)), reps)
    val full = SparkEntry.queries("dd_containment")(spark, incDir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(full.length == 41 * 40 / 2 + 1, full.length)
    assert(full.filter(t => t._1 != 210L).forall(_._3 == 1.0d))
    // carve-out: the identical single-word docs (empty shingle sets,
    // containment 0/0) never become a within-group 1.0 row
    assert(!full.exists(t => t._1 >= 300L || t._2 >= 300L),
      "empty-shingle twins leaked into the containment pair table")
  }

  test("dd_containment_smallside: the bomb collapses BEFORE prefix " +
      "selection — one probe prefix and one index row set per group, " +
      "member expansion still answers the all-pairs spec") {
    val reps = BandedStore.relations(PairFamily.ContainmentSmallside,
      spark, incDir).repVer
      .select("rep_a", "rep_b")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(reps == Set((210L, 211L)), reps)
    val full = SparkEntry
      .queries("dd_containment_smallside")(spark, incDir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(full.length == 41 * 40 / 2 + 1, full.length)
    assert(full.filter(t => t._1 != 210L).forall(_._3 == 1.0d))
    assert(!full.exists(t => t._1 >= 300L || t._2 >= 300L),
      "empty-shingle twins leaked into the smallside pair table")
  }

  test("dd_embed_cosine_lsh: the bombed pair table verifies once per " +
      "group — rep-level pairs are O(groups) while the member " +
      "expansion still emits the full clique") {
    // dir's embeddings: 40-copy bomb (one group, rep 0), a scaled
    // copy 100 (different bytes — its own group, cos exactly 1 via
    // rep-rep banding), two distinct vectors, two zero vectors (off
    // the collapse AND the bands)
    val reps = BandedStore.relations(PairFamily.Cosine, spark, dir).repVer
      .select("rep_a", "rep_b")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(reps == Set((0L, 100L)), reps)
    val full = SparkEntry.queries("dd_embed_cosine_lsh")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(full.length == 40 * 39 / 2 + 40, full.length)
    assert(full.forall(_._3 == 1.0d))
    assert(!full.exists(t => t._1 >= 300L || t._2 >= 300L),
      "zero-vector twins leaked into the pair table")
  }

  test("mm_phash_pairs: the bombed pair table verifies once per group — " +
      "rep-level pairs are O(groups) while the member expansion equals " +
      "the all-pairs Hamming <= 3 table row for row") {
    // dir's documents: the 40-copy bomb is ONE phash group (rep 0);
    // the near-dup 100, the two distinct docs and the identical
    // single-word pair 300/301 (one degenerate signature, rep 300 —
    // no carve-out on the media side) are the other groups
    val reps = BandedStore.relations(PairFamily.Phash, spark, dir).repVer
      .select("rep_a", "rep_b")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val groupReps = Set(0L, 100L, 200L, 201L, 300L)
    assert(reps.forall { case (a, b) => groupReps(a) && groupReps(b) },
      s"a non-representative member reached the verify: $reps")
    assert(reps.size <= groupReps.size * (groupReps.size - 1) / 2, reps)
    val sigs = SparkEntry.queries("mm_phash")(spark, dir)
      .select("doc_id", "phash")
    val allPairs = sigs.as("a").join(sigs.as("b"),
        org.apache.spark.sql.functions.expr(
          "a.doc_id < b.doc_id AND bit_count(a.phash ^ b.phash) <= 3"))
      .selectExpr("a.doc_id", "b.doc_id",
        "cast(bit_count(a.phash ^ b.phash) as int)")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
      .sorted.toSeq
    assert(allPairs.count(t => t._2 < Bomb) == Bomb * (Bomb - 1) / 2,
      "fixture bomb did not produce the all-pairs phash clique")
    val full = SparkEntry.queries("mm_phash_pairs")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSeq
    assert(full == allPairs,
      s"served ${full.size} pair rows vs all-pairs ${allPairs.size}")
  }

  test("dd_lp_edges: the row-for-row oracle equality holds on a BOMBED " +
      "corpus — the restated collapse (group by embedding value, star " +
      "closure ∪ banded rep pairs) equals the served edge frame") {
    // the r18 oracle generalization: dd_lp_edges' DuckDB oracle now
    // restates the duplicate collapse itself, so the gate holds on
    // corpora WITH vector-identical pairs. Mirror that restatement
    // here in Spark SQL over the bomb fixture (40 identical vectors +
    // a scaled copy + two distinct + two zero vectors) and demand
    // exact row-sequence equality with the production frame.
    val s = spark
    Engine.table(s, dir, "embeddings").createOrReplaceTempView("lpb_emb")
    val ref = s.sql(
      """WITH e AS (
        |  SELECT vec_id, embedding,
        |    graft_dot(embedding, embedding) AS n2,
        |    graft_rh_buckets(embedding) AS bks
        |  FROM lpb_emb),
        |grp AS (
        |  SELECT k.vec_id, g.rep
        |  FROM (SELECT vec_id, embedding FROM e WHERE n2 > 0) k
        |  JOIN (SELECT embedding, MIN(vec_id) AS rep FROM e
        |        WHERE n2 > 0 GROUP BY embedding) g
        |  ON k.embedding = g.embedding),
        |bands AS (
        |  SELECT b.vec_id, b.band, b.bkt
        |  FROM (SELECT vec_id, pos AS band, bkt
        |        FROM e LATERAL VIEW posexplode(bks) t AS pos, bkt) b
        |  JOIN (SELECT DISTINCT rep FROM grp) r ON b.vec_id = r.rep),
        |cand AS (
        |  SELECT DISTINCT x.vec_id AS vec_a, y.vec_id AS vec_b
        |  FROM bands x JOIN bands y
        |    ON x.band = y.band AND x.bkt = y.bkt AND x.vec_id < y.vec_id),
        |pairs AS (
        |  SELECT vec_a, vec_b FROM (
        |    SELECT vec_a, vec_b,
        |      round(graft_cos(a.embedding, b.embedding, a.n2, b.n2), 6)
        |        AS cos_sim
        |    FROM cand JOIN e a ON a.vec_id = vec_a
        |              JOIN e b ON b.vec_id = vec_b)
        |  WHERE cos_sim >= 0.4),
        |alledges AS (
        |  SELECT vec_a, vec_b FROM pairs
        |  UNION ALL
        |  SELECT rep AS vec_a, vec_id AS vec_b FROM grp
        |  WHERE vec_id <> rep)
        |SELECT src, dst FROM (
        |  SELECT vec_a AS src, vec_b AS dst FROM alledges
        |  UNION ALL SELECT vec_b, vec_a FROM alledges)
        |ORDER BY src, dst""".stripMargin)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(ref.nonEmpty, "restated oracle produced no edges — vacuous")
    val got = SparkEntry.queries("dd_lp_edges")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(got == ref,
      s"served ${got.size} edge rows vs restated ${ref.size}")
    // ...and the linearity gate stays: the bomb contributes exactly
    // k-1 star edges (x2 directions), never the clique
    val within = got.filter(t => t._1 < Bomb && t._2 < Bomb)
    assert(within.size == 2 * (Bomb - 1), within.size)
  }

  /** Bombed-STORE fixture: the duplicate bomb is ALREADY IN the
    * persistent cluster store (k identical old docs) — the store
    * layout's own bomb exposure: an uncollapsed store carries k band
    * row sets that every later probe collides with, k times per
    * arriving near-dup.
    */
  private lazy val storeDir: String = {
    val d = new java.io.File(
      sys.props.getOrElse("java.io.tmpdir", "/tmp"),
      s"graft_bombstore_fixture_p${ProcessHandle.current().pid()}").toString
    val rows: Seq[(Long, String, String)] =
      (0L until 20L).map(i => (i, bombText, "src1")) ++ Seq(
        (200L,
          "winter spring summer autumn river mountain forest desert " +
            "ocean valley meadow", "src1"),
        (300L, bombText, "src10"),
        (301L,
          "one two three four five six seven eight nine ten eleven " +
            "twelve thirteen", "src10"))
    import spark.implicits._
    rows.toDF("doc_id", "text", "source")
      .selectExpr("doc_id", "text", "'xx' AS lang", "source",
        "cast(length(text) as bigint) AS n_chars")
      .coalesce(1).write.mode("overwrite").parquet(s"$d/documents.parquet")
    d
  }

  test("cluster store: a stored duplicate bomb lands as ONE banded " +
      "representative + a grp membership, the fold pays one crossing " +
      "edge, and the streaming probe recovers every member pair by " +
      "the grp fan-out") {
    val store = java.nio.file.Files
      .createTempDirectory("graft_bombstore").toString
    BandedStore.build(StoreKind.Cluster, spark, storeDir, store)
    // the band index is O(groups): the 20-copy bomb holds exactly 8
    // band rows, all the rep's — the k×-collision exposure is gone
    val bandDocs = spark.read.parquet(s"$store/bands")
      .select("doc_id").collect().map(_.getLong(0))
    assert(bandDocs.count(_ < 20L) == 8,
      s"expected 8 rep band rows for the stored bomb, got " +
        s"${bandDocs.count(_ < 20L)} — the store is banding members")
    assert(bandDocs.filter(_ < 20L).forall(_ == 0L))
    // sigs are reps only; membership lives in grp
    val sigIds = spark.read.parquet(s"$store/sigs")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(sigIds == Set(0L, 200L), sigIds)
    val grp = spark.read.parquet(s"$store/grp")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert((0L until 20L).forall(i => grp((i, 0L))))
    // ...and the assignment still covers every stored doc
    assert(spark.read.parquet(s"$store/assignment").count() == 21L)
    // the fold's edge frame: ONE rep-rep crossing edge for the
    // arriving identical doc, nothing quadratic
    val (_, foldEdges) = BandedStore.edgeFrame(StoreKind.Cluster,
      spark, storeDir, store, s"NOT (${Dedup.oldPred})")
    assert(foldEdges.collect().map(r => (r.getLong(0), r.getLong(1)))
      .toSeq == Seq((0L, 300L)))
    // the fold assignment equals LP over the uncollapsed pair set
    val uncollapsed = SparkEntry.queries("dd_jaccard")(spark, storeDir)
    assert(edges(uncollapsed).size == 21 * 20 / 2,
      "fixture did not produce the uncollapsed clique: the linearity " +
        "asserts above are vacuous")
    val expected = assignment(Dedup.labelPropagate("bomb_ref_store",
      uncollapsed.select("doc_a", "doc_b"),
      Engine.table(spark, storeDir, "documents").select("doc_id")))
    assert(assignment(
      BandedStore.fold(StoreKind.Cluster, spark, storeDir, store)) == expected)
    // the streaming probe: the arriving twin verifies against the rep
    // once and fans out to ALL 20 member pairs through grp/
    val s0 = spark
    import s0.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = s0.sqlContext
    val in = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[graft.streaming.StreamDoc]
    val q = graft.streaming.Streams
      .storeNearDupStream(in.toDF(), store)
      .writeStream.format("memory").queryName("bomb_store_sink")
      .outputMode("append").start()
    val streamed =
      try {
        in.addData(
          graft.streaming.StreamDoc(300L, 1000000000L, bombText),
          graft.streaming.StreamDoc(301L, 2000000000L,
            "one two three four five six seven eight nine ten eleven " +
              "twelve thirteen"))
        q.processAllAvailable()
        s0.table("bomb_store_sink")
          .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      } finally q.stop()
    s0.catalog.dropTempView("bomb_store_sink")
    assert(streamed == (0L until 20L).map(o => (300L, o)).toSet,
      s"fan-out produced ${streamed.size} pairs")
  }

  test("embed store: a stored vector bomb lands as ONE banded rep + " +
      "grp membership, and the streaming probe fans a matching " +
      "arrival out to every member (plus the scaled copy's own group)") {
    val store = java.nio.file.Files
      .createTempDirectory("graft_bombestore").toString
    // dir's embeddings: bomb vecs 0-39 identical, 100 a scaled copy
    // (cos 1, different bytes — its OWN group, reached by banding),
    // 200/201 distinct, 300/301 zero (excluded: vec_id >= split)
    BandedStore.build(StoreKind.Embed, spark, dir, store)
    val bandVecs = spark.read.parquet(s"$store/bands")
      .select("vec_id").collect().map(_.getLong(0))
    assert(bandVecs.count(_ < 40L) == 12,
      s"expected 12 rep band rows for the stored vector bomb, got " +
        s"${bandVecs.count(_ < 40L)} — the store is banding members")
    assert(bandVecs.filter(_ < 40L).forall(_ == 0L))
    val vecIds = spark.read.parquet(s"$store/vecs")
      .select("vec_id").collect().map(_.getLong(0)).toSet
    assert(!vecIds.exists(v => v > 0L && v < 40L),
      s"member vectors stored full-width: $vecIds")
    val grp = spark.read.parquet(s"$store/grp")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert((0L until 40L).forall(i => grp((i, 0L))))
    // a probing twin (the bomb vector itself) verifies once per GROUP
    // and fans out to all 40 members plus the scaled copy
    val s0 = spark
    import s0.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = s0.sqlContext
    val bombVec = Array(1.0f, 0.25f, -0.5f, 0.125f)
    val in = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[graft.streaming.StreamVec]
    val q = graft.streaming.Streams
      .storeDedupStream(in.toDF(), store)
      .writeStream.format("memory").queryName("bomb_estore_sink")
      .outputMode("append").start()
    val streamed =
      try {
        in.addData(graft.streaming.StreamVec(500L, 1000000000L, bombVec))
        q.processAllAvailable()
        s0.table("bomb_estore_sink")
          .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      } finally q.stop()
    s0.catalog.dropTempView("bomb_estore_sink")
    assert(streamed ==
      ((0L until 40L).map(o => (500L, o)).toSet + ((500L, 100L))),
      s"fan-out produced ${streamed.size} pairs")
  }

  test("phash store: a stored media bomb lands as ONE banded rep + " +
      "grp membership, and the streaming probe fans a matching " +
      "arrival out to every member") {
    val store = java.nio.file.Files
      .createTempDirectory("graft_bombpstore").toString
    BandedStore.build(StoreKind.Phash, spark, storeDir, store)
    val bandDocs = spark.read.parquet(s"$store/bands")
      .select("doc_id").collect().map(_.getLong(0))
    assert(bandDocs.count(_ < 20L) == 4,
      s"expected 4 rep band rows for the stored media bomb, got " +
        s"${bandDocs.count(_ < 20L)} — the store is banding members")
    assert(bandDocs.filter(_ < 20L).forall(_ == 0L))
    val grp = spark.read.parquet(s"$store/grp")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert((0L until 20L).forall(i => grp((i, 0L))))
    val s0 = spark
    import s0.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = s0.sqlContext
    val in = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[graft.streaming.StreamDoc]
    val q = graft.streaming.Streams
      .storePhashStream(in.toDF(), store)
      .writeStream.format("memory").queryName("bomb_pstore_sink")
      .outputMode("append").start()
    val streamed =
      try {
        in.addData(
          graft.streaming.StreamDoc(300L, 1000000000L, bombText))
        q.processAllAvailable()
        s0.table("bomb_pstore_sink")
          .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      } finally q.stop()
    s0.catalog.dropTempView("bomb_pstore_sink")
    assert(streamed == (0L until 20L).map(o => (300L, o)).toSet,
      s"fan-out produced ${streamed.size} pairs")
  }

  /** Bombed-INCREMENT fixture for the STORE DELTA face: the k-copy
    * bomb arrives as the NEW batch of a `fold --delta` — the one
    * place the collapse machinery meets the increment-only layout.
    * Old half (src1): two distinct docs / vectors. New half (src10 /
    * vec_id >= 300): a 20-copy bomb, plus (embed only) a scaled copy
    * that must reach the bomb group through banding, not the byte
    * collapse key.
    */
  private lazy val deltaBombDir: String = {
    val d = new java.io.File(
      sys.props.getOrElse("java.io.tmpdir", "/tmp"),
      s"graft_deltabomb_fixture_p${ProcessHandle.current().pid()}").toString
    val rows: Seq[(Long, String, String)] = Seq(
      (0L,
        "one two three four five six seven eight nine ten eleven " +
          "twelve thirteen", "src1"),
      (1L,
        "winter spring summer autumn river mountain forest desert " +
          "ocean valley meadow", "src1")) ++
      (300L until 320L).map(i => (i, bombText, "src10"))
    import spark.implicits._
    rows.toDF("doc_id", "text", "source")
      .selectExpr("doc_id", "text", "'xx' AS lang", "source",
        "cast(length(text) as bigint) AS n_chars")
      .coalesce(1).write.mode("overwrite").parquet(s"$d/documents.parquet")
    val bombVec = Array(1.0f, 0.25f, -0.5f, 0.125f)
    val vecs: Seq[(Long, Array[Float])] = Seq(
      (0L, Array(-1.0f, 0.5f, 0.25f, -0.125f)),
      (1L, Array(0.125f, -1.0f, 0.5f, 0.25f))) ++
      (300L until 320L).map(i => (i, bombVec)) :+
      ((400L, bombVec.map(_ * 2.0f)))
    vecs.toDF("vec_id", "embedding")
      .selectExpr("vec_id", "embedding", "cast(0 as int) AS label")
      .coalesce(1).write.mode("overwrite").parquet(s"$d/embeddings.parquet")
    d
  }

  test("fold --delta (cluster): a bombed INCREMENT lands O(k) delta " +
      "rows — one banded rep, k grp rows, k assignment rows — and the " +
      "chain serves exactly the one-shot fold's assignment") {
    import graft.run.StoreCtl
    val root = java.nio.file.Files
      .createTempDirectory("graft_deltabomb_cl").toString
    assert(StoreCtl.run(spark, Seq("build", "cluster", deltaBombDir,
      s"$root/gen-0", Dedup.oldPred)).isRight)
    assert(StoreCtl.run(spark, Seq("fold", "--delta", "cluster",
      deltaBombDir, s"$root/gen-0", s"$root/gen-1",
      s"NOT (${Dedup.oldPred})")).isRight)
    // the delta's sigs/bands hold the bomb's REP only (collapse ran
    // before the increment landed): 1 sig row, 8 band rows — not 20
    // of each, and never the k²/2 candidate blowup
    val sigIds = spark.read.parquet(s"$root/gen-1/sigs")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(sigIds == Set(300L), sigIds)
    val bandRows = spark.read.parquet(s"$root/gen-1/bands")
      .select("doc_id").collect().map(_.getLong(0))
    assert(bandRows.length == 8 && bandRows.forall(_ == 300L),
      s"expected 8 rep band rows, got ${bandRows.length}")
    // membership carries the other k-1 copies
    val grp = spark.read.parquet(s"$root/gen-1/grp")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(grp == (300L until 320L).map(i => (i, 300L)).toSet, grp)
    // assignment delta = the changed rows ONLY: the 20 new docs (the
    // bomb bridges nothing old, so no relabels)
    val delta = spark.read.parquet(s"$root/gen-1/assignment")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(delta == (300L until 320L).map(i => (i, 300L)).toSet, delta)
    // chain-serve == the one-shot self-contained fold, row for row
    val one = java.nio.file.Files
      .createTempDirectory("graft_deltabomb_cl_one").toString + "/g"
    assert(StoreCtl.run(spark, Seq("fold", "cluster", deltaBombDir,
      s"$root/gen-0", one, s"NOT (${Dedup.oldPred})")).isRight)
    def assign(p: String): Map[Long, Long] =
      Dedup.storeAssignment(spark, p, "doc_id")
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(assign(s"$root/gen-1") == assign(one))
  }

  test("fold --delta (embed): a bombed INCREMENT lands O(k) delta " +
      "rows — one banded rep (the scaled copy its own group), k grp " +
      "rows — and the chain serves the one-shot fold's assignment") {
    import graft.run.StoreCtl
    val root = java.nio.file.Files
      .createTempDirectory("graft_deltabomb_em").toString
    assert(StoreCtl.run(spark, Seq("build", "embed", deltaBombDir,
      s"$root/gen-0", "vec_id < 100")).isRight)
    assert(StoreCtl.run(spark, Seq("fold", "--delta", "embed",
      deltaBombDir, s"$root/gen-0", s"$root/gen-1",
      "vec_id >= 300")).isRight)
    // reps only in the delta's full-width/banded relations: the bomb
    // rep (300) and the scaled copy (400, its OWN byte-key group that
    // must meet the bomb through scale-invariant banding)
    val vecIds = spark.read.parquet(s"$root/gen-1/vecs")
      .select("vec_id").collect().map(_.getLong(0)).toSet
    assert(vecIds == Set(300L, 400L), vecIds)
    val bombBands = spark.read.parquet(s"$root/gen-1/bands")
      .select("vec_id").collect().map(_.getLong(0)).filter(_ < 400L)
    assert(bombBands.length == 12 && bombBands.forall(_ == 300L),
      s"expected 12 rep band rows for the bomb, got ${bombBands.length}")
    val grp = spark.read.parquet(s"$root/gen-1/grp")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(grp == ((300L until 320L).map(i => (i, 300L)).toSet +
      ((400L, 400L))), grp)
    // assignment delta = the 21 new vectors, all in the bomb's
    // cluster (cos(bomb, scaled) = 1 banded through the rep)
    val delta = spark.read.parquet(s"$root/gen-1/assignment")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(delta == ((300L until 320L).map(i => (i, 300L)).toSet +
      ((400L, 300L))), delta)
    val one = java.nio.file.Files
      .createTempDirectory("graft_deltabomb_em_one").toString + "/g"
    assert(StoreCtl.run(spark, Seq("fold", "embed", deltaBombDir,
      s"$root/gen-0", one, "vec_id >= 300")).isRight)
    def assign(p: String): Map[Long, Long] =
      Dedup.storeAssignment(spark, p, "vec_id")
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(assign(s"$root/gen-1") == assign(one))
  }
}
