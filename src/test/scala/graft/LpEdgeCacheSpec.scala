package graft

import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{Dedup, Similarity}

/** Lifecycle contract for the corpus-state registry ([[CorpusState]]),
  * which holds the shared LP edges among its entries. Three clauses:
  *
  *   1. SHARING — a second consumer with the same shareKey reuses the
  *      prepared edges without re-evaluating the (expensive) pair
  *      pipeline; that is the registry's whole point.
  *   2. INVALIDATION — [[Engine.invalidateCorpus]] drops exactly that
  *      corpus dir's entries, and the next consumer rebuilds over the
  *      CURRENT pair data (the rewritten-dir staleness hook).
  *   3. BOUND — the registry holds at most CorpusState.MaxCorpora (8)
  *      corpora, evicting least-recently-used, so a long-lived session
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

  private def cachedModel(s: org.apache.spark.sql.SparkSession,
                          d: String): Option[AnyRef] =
    CorpusState.entries(s).get(d -> Similarity.ModelEntry)

  private def run(key: (String, String), builds: java.util.concurrent.atomic.AtomicInteger,
                  rows: Seq[(Long, Long)]): Map[Long, Long] =
    Dedup.labelPropagate("lp_cache_spec",
        pairs(builds, rows), nodes(1L, 2L, 3L, 4L),
        shareKey = Some(key))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

  test("sharing: same shareKey reuses the prepared edges without " +
       "re-evaluating the pair pipeline") {
    CorpusState.clear()
    val builds = new java.util.concurrent.atomic.AtomicInteger
    val key = "/tmp/lpspec_corpus_a" -> "lpspec_share"
    val r1 = run(key, builds, Seq((1L, 2L), (2L, 3L)))
    assert(r1 == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 4L))
    assert(builds.get() == 1)
    val r2 = run(key, builds, Seq((1L, 2L), (2L, 3L)))
    assert(r2 == r1)
    assert(builds.get() == 1, "second consumer must not rebuild the edges")
  }

  test("invalidation: invalidateLpEdges drops that dir's entries and " +
       "the next consumer rebuilds over current data") {
    CorpusState.clear()
    val builds = new java.util.concurrent.atomic.AtomicInteger
    val dirA = "/tmp/lpspec_corpus_rewrite"
    val keyA = dirA -> "lpspec_inval"
    val keyB = "/tmp/lpspec_corpus_other" -> "lpspec_inval"
    assert(run(keyA, builds, Seq((1L, 2L)))
      == Map(1L -> 1L, 2L -> 1L, 3L -> 3L, 4L -> 4L))
    assert(run(keyB, builds, Seq((3L, 4L)))
      == Map(1L -> 1L, 2L -> 2L, 3L -> 3L, 4L -> 3L))
    assert(builds.get() == 2)
    // the "corpus rewritten in place" scenario: same dir, new pairs
    Engine.invalidateCorpus(spark, dirA)
    assert(!CorpusState.entries(spark).keySet.contains(keyA), "dirA entry dropped")
    assert(CorpusState.entries(spark).keySet.contains(keyB), "other dirs untouched")
    val r = run(keyA, builds, Seq((2L, 3L)))
    assert(builds.get() == 3, "post-invalidation consumer must rebuild")
    assert(r == Map(1L -> 1L, 2L -> 2L, 3L -> 2L, 4L -> 4L),
      "rebuilt edges must reflect the rewritten corpus, not the stale set")
    // idempotent / unknown dir: no-op, no throw
    Engine.invalidateCorpus(spark, "/tmp/lpspec_never_built")
  }

  test("invalidation during an in-flight build: the straddling result " +
       "is served to its own caller but never registered") {
    CorpusState.clear()
    val builds = new java.util.concurrent.atomic.AtomicInteger
    val dir = "/tmp/lpspec_corpus_inflight"
    val key = dir -> "lpspec_race"
    // the corpus is rewritten — and invalidated — WHILE this build is
    // evaluating its pair pipeline: the build snapshotted the stamp
    // before the invalidation, so its (possibly pre-rewrite) result
    // must not land in the registry afterwards
    def racingPairs(): DataFrame = {
      Engine.invalidateCorpus(spark, dir)
      pairs(builds, Seq((1L, 2L)))
    }
    val r = Dedup.labelPropagate("lp_cache_spec",
        racingPairs(), nodes(1L, 2L, 3L, 4L), shareKey = Some(key))
      .collect().map(x => x.getLong(0) -> x.getLong(1)).toMap
    assert(r == Map(1L -> 1L, 2L -> 1L, 3L -> 3L, 4L -> 4L),
      "the straddling caller's own result is as fresh as its own read")
    assert(!CorpusState.entries(spark).keySet.contains(key),
      "a build that straddled an invalidation must not register")
    assert(builds.get() == 1)
    // the next consumer rebuilds over current data instead of
    // inheriting the straddler's edges
    run(key, builds, Seq((2L, 3L)))
    assert(builds.get() == 2, "post-race consumer must rebuild")
  }

  test("bound: the registry is LRU-capped, never unbounded") {
    CorpusState.clear()
    val builds = new java.util.concurrent.atomic.AtomicInteger
    val cap = 8 // CorpusState.MaxCorpora
    (0 to cap).foreach { i =>
      run(s"/tmp/lpspec_corpus_$i" -> "lpspec_cap", builds, Seq((1L, 2L)))
    }
    val keys = CorpusState.entries(spark).keySet
    assert(keys.size == cap, s"cap $cap exceeded: ${keys.size}")
    assert(!keys.contains("/tmp/lpspec_corpus_0" -> "lpspec_cap"),
      "least-recently-used entry (the first) must be the one evicted")
    assert(keys.contains(s"/tmp/lpspec_corpus_$cap" -> "lpspec_cap"))
    // LRU, not FIFO: touching an old entry saves it from eviction
    run("/tmp/lpspec_corpus_1" -> "lpspec_cap", builds, Seq((1L, 2L)))
    assert(builds.get() == cap + 1, "corpus_1 must still be a hit")
    run("/tmp/lpspec_corpus_extra" -> "lpspec_cap", builds, Seq((1L, 2L)))
    val keys2 = CorpusState.entries(spark).keySet
    assert(keys2.contains("/tmp/lpspec_corpus_1" -> "lpspec_cap"),
      "recently-touched entry survives")
    assert(!keys2.contains("/tmp/lpspec_corpus_2" -> "lpspec_cap"),
      "the actual LRU entry is the one evicted")
    CorpusState.clear()
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
    def write(rows: Seq[(Long, String)], to: String = d): Unit =
      rows.toDF("doc_id", "text")
        .selectExpr("doc_id", "text", "'xx' AS lang", "'src1' AS source",
          "cast(length(text) as bigint) AS n_chars")
        .coalesce(1).write.mode("overwrite")
        .parquet(s"$to/documents.parquet")
    def jacPairs(): Set[(Long, Long)] =
      SparkEntry.queries("dd_jaccard")(s, d)
        .select("doc_a", "doc_b")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    def novel(): Map[Long, Long] =
      SparkEntry.queries("txt_novelty")(s, d)
        .select("doc_id", "n_novel")
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val tA = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    val tB = "one two three four five six seven eight nine ten"
    CorpusState.clear()
    write(Seq((1L, tA), (2L, tA), (3L, tB)))
    assert(jacPairs() == Set((1L, 2L)))
    assert(novel() == Map(1L -> 3L, 2L -> 0L, 3L -> 3L))
    // rewrite IN PLACE: doc 1 now matches 3, not 2. The new files are
    // moved in from outside the session (a regenerated fixture copied
    // over the dir): a write through this session's own writer would
    // re-cache the path by itself
    write(Seq((1L, tB), (2L, tA), (3L, tB)), s"$d.next")
    val docs = new java.io.File(s"$d/documents.parquet")
    org.apache.commons.io.FileUtils.deleteDirectory(docs)
    java.nio.file.Files.move(
      java.nio.file.Paths.get(s"$d.next/documents.parquet"), docs.toPath)
    // the registry is deliberately filesystem-blind — same result
    // until the caller follows the staleness contract
    assert(jacPairs() == Set((1L, 2L)),
      "registry re-read the dir without invalidation — the staleness " +
        "contract moved")
    Engine.invalidateCorpus(s, d)
    assert(jacPairs() == Set((1L, 3L)),
      "post-invalidation rebuild served stale data")
    // txt_novelty's cached gram frame is released with the rest
    assert(novel() == Map(1L -> 3L, 2L -> 3L, 3L -> 0L),
      "txt_novelty served its pre-rewrite cached grams")
    CorpusState.clear()
  }

  test("Engine.invalidateCorpus drops similarity's trained-model " +
      "cache too: the one hook covers every pack's session state") {
    val s = spark
    val d = java.nio.file.Files
      .createTempDirectory("graft_simstale").toString
    s.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .write.mode("overwrite").parquet(s"$d/embeddings.parquet")
    assert(SparkEntry.queries("sim_ivfpq_pretrained")(s, d)
      .count() > 0)
    val m1 = cachedModel(s, d)
    assert(m1.nonEmpty, "pretrained serving must cache the model")
    // a second call reuses the SAME trained model instance
    assert(SparkEntry.queries("sim_ivfpq_pretrained")(s, d).count() > 0)
    assert(cachedModel(s, d).exists(_ eq m1.get))
    // the corpus-rewrite hook drops it; the next call retrains
    Engine.invalidateCorpus(s, d)
    assert(cachedModel(s, d).isEmpty,
      "invalidateCorpus must drop the (session, dir) model")
    assert(SparkEntry.queries("sim_ivfpq_pretrained")(s, d).count() > 0)
    assert(cachedModel(s, d)
      .exists(m => !(m eq m1.get)), "the rebuild must retrain")
  }

  test("bound: touring 9 corpora evicts the first corpus's entries of " +
      "every kind and unpersists its tracked frames") {
    val s = spark
    import s.implicits._
    CorpusState.clear()
    val builds = new java.util.concurrent.atomic.AtomicInteger
    val dirs = (0 to CorpusState.MaxCorpora).map(i => s"/tmp/lpspec_tour_$i")
    val d0 = dirs.head
    run(d0 -> "lpspec_tour_edges", builds, Seq((1L, 2L)))
    val df = Seq((1L, 2L)).toDF("a", "b")
    CorpusState.getOrBuild(s, d0, "jac_pairs")(Dedup.PairRelations(df, df))
    // a synthetic model: no IVF-PQ training
    CorpusState.getOrBuild(s, d0, Similarity.ModelEntry)(
      Similarity.IvfPqModel(Nil, Nil, df))
    val scan = CorpusState.track(s, d0,
      Seq(7L, 8L).toDF("lpspec_tour_scan").cache())
    assert(scan.count() == 2 &&
      scan.storageLevel != org.apache.spark.storage.StorageLevel.NONE)
    assert(CorpusState.entries(s).keySet.count(_._1 == d0) == 3)
    dirs.tail.foreach(d => run(d -> "lpspec_tour_edges", builds, Seq((1L, 2L))))
    val keys = CorpusState.entries(s).keySet
    assert(!keys.exists(_._1 == d0), s"corpus 0 kept: ${keys.filter(_._1 == d0)}")
    assert(keys.size == CorpusState.MaxCorpora)
    assert(scan.storageLevel == org.apache.spark.storage.StorageLevel.NONE,
      "an evicted corpus's tracked frame must be unpersisted")
    CorpusState.clear()
  }

  test("dd_lp_edges drops only its own entry: the jaccard family's " +
      "relations stay registered") {
    val s = spark
    val d = SparkSessionHelper.Sf0001
    CorpusState.clear()
    assert(SparkEntry.queries("dd_jaccard")(s, d).count() >= 0)
    assert(CorpusState.entries(s).contains(d -> "jac_pairs"))
    assert(SparkEntry.queries("dd_lp_edges")(s, d).count() > 0)
    val keys = CorpusState.entries(s).keySet
    assert(keys.contains(d -> "embed_lsh"))
    assert(keys.contains(d -> "jac_pairs"),
      "dd_lp_edges dropped another family's relations")
    CorpusState.clear()
  }
}
