package graft

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}

/** The session-lifetime state every pack derives from one corpus: named
  * entries (the shared LP edge structures, the pair families' collapse
  * relations, the prior-phase labels, the trained IVF-PQ model) and the
  * `.cache()`d corpus scans behind them, keyed by (session, corpus dir).
  *
  *   - BOUND: at most [[MaxCorpora]] corpora, least recently used
  *     evicted first. An evicted corpus's tracked frames are unpersisted;
  *     its entries hold checkpoint blocks the ContextCleaner reclaims
  *     once unreferenced. Corpora of stopped sessions are purged on
  *     every access.
  *   - BUILD: [[getOrBuild]] runs the build outside the lock, so two
  *     concurrent first callers may both build (one registration wins,
  *     the other's blocks go to the ContextCleaner). A build that
  *     straddles an [[invalidate]] or [[clear]] is served to its caller
  *     but not registered: its read may predate the rewrite.
  *   - INVALIDATION: the registry is filesystem-blind — a caller that
  *     rewrites a corpus in place calls [[Engine.invalidateCorpus]].
  */
private[graft] object CorpusState {
  val MaxCorpora = 8

  private final class Corpus {
    val entries = scala.collection.mutable.Map.empty[String, AnyRef]
    var tracked: List[DataFrame] = Nil
    def release(s: SparkSession): Unit =
      if (!s.sparkContext.isStopped) tracked.foreach(_.unpersist(blocking = false))
  }

  private val corpora =
    new java.util.LinkedHashMap[(SparkSession, String), Corpus](
        16, 0.75f, /*accessOrder=*/ true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[(SparkSession, String), Corpus]): Boolean = {
        val evict = size() > MaxCorpora
        if (evict) e.getValue.release(e.getKey._1)
        evict
      }
    }
  private var invalidations = 0L

  /** The (session, dir) corpus, touched; call under the lock. */
  private def corpus(s: SparkSession, dir: String): Corpus = {
    corpora.keySet().removeIf(_._1.sparkContext.isStopped)
    Option(corpora.get((s, dir))).getOrElse {
      val c = new Corpus
      corpora.put((s, dir), c)
      c
    }
  }

  def getOrBuild[V <: AnyRef](s: SparkSession, dir: String, name: String)(
      build: => V): V = {
    val (hit, stamp) = corpora.synchronized {
      (corpus(s, dir).entries.get(name), invalidations)
    }
    hit.map(_.asInstanceOf[V]).getOrElse {
      val v = build
      corpora.synchronized {
        if (invalidations == stamp) corpus(s, dir).entries(name) = v
      }
      v
    }
  }

  /** Track a `.cache()`d frame over the corpus, so invalidation and
    * eviction unpersist it; returns `df`. One frame per distinct plan:
    * a re-run builder's plan-equivalent `.cache()` was a no-op, and
    * unpersisting either frame drops the one shared cache entry. */
  def track(s: SparkSession, dir: String, df: DataFrame): DataFrame =
    corpora.synchronized {
      val c = corpus(s, dir)
      if (!c.tracked.exists(_.queryExecution.analyzed
          .sameResult(df.queryExecution.analyzed)))
        c.tracked ::= df
      df
    }

  def drop(s: SparkSession, dir: String, name: String): Unit =
    corpora.synchronized(Option(corpora.get((s, dir))).foreach(_.entries -= name))

  def invalidate(s: SparkSession, dir: String): Unit = corpora.synchronized {
    invalidations += 1
    Option(corpora.remove((s, dir))).foreach(_.release(s))
  }

  def clear(): Unit = corpora.synchronized {
    invalidations += 1
    corpora.asScala.foreach { case ((s, _), c) => c.release(s) }
    corpora.clear()
  }

  /** Test accessor: the registered entries of `s`, by (dir, name). */
  private[graft] def entries(s: SparkSession): Map[(String, String), AnyRef] =
    corpora.synchronized {
      corpora.asScala.toSeq.collect { case ((`s`, dir), c) =>
        c.entries.map { case (n, v) => (dir, n) -> v }
      }.flatten.toMap
    }
}
