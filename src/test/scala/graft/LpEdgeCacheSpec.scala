package graft

import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Dedup

/** Lifecycle contract for the shared LP edge registry (VERDICT r15:
  * the registry had no invalidation story and no bound). Three
  * clauses:
  *
  *   1. SHARING — a second consumer with the same shareKey reuses the
  *      prepared edges without re-evaluating the (expensive) pair
  *      pipeline; that is the registry's whole point.
  *   2. INVALIDATION — [[Dedup.invalidateLpEdges]] drops exactly that
  *      corpus dir's entries, and the next consumer rebuilds over the
  *      CURRENT pair data (the rewritten-dir staleness hook).
  *   3. BOUND — the registry holds at most Dedup's LpEdgeCacheMax (8)
  *      entries, evicting least-recently-used, so a long-lived session
  *      touring many corpora cannot pin unbounded checkpoint blocks.
  */
class LpEdgeCacheSpec extends AnyFunSuite {
  private lazy val spark = SparkSessionHelper.spark

  /** A tiny pair frame (one component a-b-c) with an eval counter. */
  private def pairs(builds: java.util.concurrent.atomic.AtomicInteger,
                    rows: Seq[(Long, Long)]): DataFrame = {
    builds.incrementAndGet()
    val s = spark
    import s.implicits._
    rows.toDF("doc_a", "doc_b")
  }

  private def nodes(ids: Long*): DataFrame = {
    val s = spark
    import s.implicits._
    ids.toDF("doc_id")
  }

  private def run(key: String, builds: java.util.concurrent.atomic.AtomicInteger,
                  rows: Seq[(Long, Long)]): Map[Long, Long] =
    Dedup.labelPropagate("lp_cache_spec",
        pairs(builds, rows), nodes(1L, 2L, 3L, 4L),
        shareKey = Some(key))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

  test("sharing: same shareKey reuses the prepared edges without " +
       "re-evaluating the pair pipeline") {
    Dedup.clearLpEdgeCache()
    val builds = new java.util.concurrent.atomic.AtomicInteger
    val key = "lpspec_share|/tmp/lpspec_corpus_a"
    val r1 = run(key, builds, Seq((1L, 2L), (2L, 3L)))
    assert(r1 == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 4L))
    assert(builds.get() == 1)
    val r2 = run(key, builds, Seq((1L, 2L), (2L, 3L)))
    assert(r2 == r1)
    assert(builds.get() == 1, "second consumer must not rebuild the edges")
  }

  test("invalidation: invalidateLpEdges drops that dir's entries and " +
       "the next consumer rebuilds over current data") {
    Dedup.clearLpEdgeCache()
    val builds = new java.util.concurrent.atomic.AtomicInteger
    val dirA = "/tmp/lpspec_corpus_rewrite"
    val keyA = s"lpspec_inval|$dirA"
    val keyB = "lpspec_inval|/tmp/lpspec_corpus_other"
    assert(run(keyA, builds, Seq((1L, 2L)))
      == Map(1L -> 1L, 2L -> 1L, 3L -> 3L, 4L -> 4L))
    assert(run(keyB, builds, Seq((3L, 4L)))
      == Map(1L -> 1L, 2L -> 2L, 3L -> 3L, 4L -> 3L))
    assert(builds.get() == 2)
    // the "corpus rewritten in place" scenario: same dir, new pairs
    Dedup.invalidateLpEdges(spark, dirA)
    assert(!Dedup.lpEdgeCacheKeys.contains(keyA), "dirA entry dropped")
    assert(Dedup.lpEdgeCacheKeys.contains(keyB), "other dirs untouched")
    val r = run(keyA, builds, Seq((2L, 3L)))
    assert(builds.get() == 3, "post-invalidation consumer must rebuild")
    assert(r == Map(1L -> 1L, 2L -> 2L, 3L -> 2L, 4L -> 4L),
      "rebuilt edges must reflect the rewritten corpus, not the stale set")
    // idempotent / unknown dir: no-op, no throw
    Dedup.invalidateLpEdges(spark, "/tmp/lpspec_never_built")
  }

  test("invalidation during an in-flight build: the straddling result " +
       "is served to its own caller but never registered") {
    Dedup.clearLpEdgeCache()
    val builds = new java.util.concurrent.atomic.AtomicInteger
    val dir = "/tmp/lpspec_corpus_inflight"
    val key = s"lpspec_race|$dir"
    // the corpus is rewritten — and invalidated — WHILE this build is
    // evaluating its pair pipeline: the build snapshotted the stamp
    // before the invalidation, so its (possibly pre-rewrite) result
    // must not land in the registry afterwards
    def racingPairs(): DataFrame = {
      Dedup.invalidateLpEdges(spark, dir)
      pairs(builds, Seq((1L, 2L)))
    }
    val r = Dedup.labelPropagate("lp_cache_spec",
        racingPairs(), nodes(1L, 2L, 3L, 4L), shareKey = Some(key))
      .collect().map(x => x.getLong(0) -> x.getLong(1)).toMap
    assert(r == Map(1L -> 1L, 2L -> 1L, 3L -> 3L, 4L -> 4L),
      "the straddling caller's own result is as fresh as its own read")
    assert(!Dedup.lpEdgeCacheKeys.contains(key),
      "a build that straddled an invalidation must not register")
    assert(builds.get() == 1)
    // the next consumer rebuilds over current data instead of
    // inheriting the straddler's edges
    run(key, builds, Seq((2L, 3L)))
    assert(builds.get() == 2, "post-race consumer must rebuild")
  }

  test("bound: the registry is LRU-capped, never unbounded") {
    Dedup.clearLpEdgeCache()
    val builds = new java.util.concurrent.atomic.AtomicInteger
    val cap = 8 // Dedup's LpEdgeCacheMax
    (0 to cap).foreach { i =>
      run(s"lpspec_cap|/tmp/lpspec_corpus_$i", builds, Seq((1L, 2L)))
    }
    val keys = Dedup.lpEdgeCacheKeys
    assert(keys.size == cap, s"cap $cap exceeded: ${keys.size}")
    assert(!keys.contains("lpspec_cap|/tmp/lpspec_corpus_0"),
      "least-recently-used entry (the first) must be the one evicted")
    assert(keys.contains(s"lpspec_cap|/tmp/lpspec_corpus_$cap"))
    // LRU, not FIFO: touching an old entry saves it from eviction
    run("lpspec_cap|/tmp/lpspec_corpus_1", builds, Seq((1L, 2L)))
    assert(builds.get() == cap + 1, "corpus_1 must still be a hit")
    run("lpspec_cap|/tmp/lpspec_corpus_extra", builds, Seq((1L, 2L)))
    val keys2 = Dedup.lpEdgeCacheKeys
    assert(keys2.contains("lpspec_cap|/tmp/lpspec_corpus_1"),
      "recently-touched entry survives")
    assert(!keys2.contains("lpspec_cap|/tmp/lpspec_corpus_2"),
      "the actual LRU entry is the one evicted")
    Dedup.clearLpEdgeCache()
  }

  test("in-place corpus rewrite through the REAL jaccard family: " +
      "without invalidation the registry serves the pre-rewrite pairs " +
      "(the documented caller contract), invalidateLpEdges rebuilds " +
      "over the new bytes — cached corpus scans included") {
    val s = spark
    import s.implicits._
    val d = new java.io.File(
      sys.props.getOrElse("java.io.tmpdir", "/tmp"),
      s"graft_stale_fixture_p${ProcessHandle.current().pid()}").toString
    def write(rows: Seq[(Long, String)]): Unit =
      rows.toDF("doc_id", "text")
        .selectExpr("doc_id", "text", "'xx' AS lang", "'src1' AS source",
          "cast(length(text) as bigint) AS n_chars")
        .coalesce(1).write.mode("overwrite")
        .parquet(s"$d/documents.parquet")
    def jacPairs(): Set[(Long, Long)] =
      SparkEntry.queries("dd_jaccard")(s, d)
        .select("doc_a", "doc_b")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val tA = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    val tB = "one two three four five six seven eight nine ten"
    Dedup.clearLpEdgeCache()
    write(Seq((1L, tA), (2L, tA), (3L, tB)))
    assert(jacPairs() == Set((1L, 2L)))
    // rewrite IN PLACE: doc 1 now matches 3, not 2
    write(Seq((1L, tB), (2L, tA), (3L, tB)))
    // the registry is deliberately filesystem-blind — same result
    // until the caller follows the staleness contract
    assert(jacPairs() == Set((1L, 2L)),
      "registry re-read the dir without invalidation — the staleness " +
        "contract moved")
    Dedup.invalidateLpEdges(s, d)
    assert(jacPairs() == Set((1L, 3L)),
      "post-invalidation rebuild served stale data")
    Dedup.clearLpEdgeCache()
  }

  test("Engine.invalidateCorpus drops similarity's trained-model " +
      "cache too: the one hook covers every pack's session state") {
    import graft.operators.Similarity
    val s = spark
    val d = java.nio.file.Files
      .createTempDirectory("graft_simstale").toString
    s.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .write.mode("overwrite").parquet(s"$d/embeddings.parquet")
    assert(SparkEntry.queries("sim_ivfpq_pretrained")(s, d)
      .count() > 0)
    val m1 = Similarity.cachedModelForTest(s, d)
    assert(m1.nonEmpty, "pretrained serving must cache the model")
    // a second call reuses the SAME trained model instance
    assert(SparkEntry.queries("sim_ivfpq_pretrained")(s, d).count() > 0)
    assert(Similarity.cachedModelForTest(s, d).exists(_ eq m1.get))
    // the corpus-rewrite hook drops it; the next call retrains
    Engine.invalidateCorpus(s, d)
    assert(Similarity.cachedModelForTest(s, d).isEmpty,
      "invalidateCorpus must drop the (session, dir) model")
    assert(SparkEntry.queries("sim_ivfpq_pretrained")(s, d).count() > 0)
    assert(Similarity.cachedModelForTest(s, d)
      .exists(m => !(m eq m1.get)), "the rebuild must retrain")
  }
}
