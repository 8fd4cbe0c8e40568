package graft.perfbench

import java.nio.file.Path

import scala.util.Random

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.StreamingQuery

import graft.streaming.{StreamDoc, Streams}

/** One workload: a corpus shape, a set-up that brings a fresh directory
  * to the state the timed operation starts from, the operation, and the
  * checks on what the operations wrote. Operations run on the warm JVM
  * the set-up leaves, the long-lived Worker's shape.
  */
abstract class Workload(val spark: SparkSession, val seed: Long) {
  def name: String
  def shape: Shape
  /** Operations in one timed phase; fixed by `--seconds` alone so two
    * runs of a seed do the same work.
    */
  def ops: Int
  /** Operations in the traced run's phase, every second one traced:
    * as many as the untraced run, and at least one of each kind.
    */
  def tracedOps: Int = math.max(2, ops)
  /** Brings `dir` to the state the operations start from. The run's
    * first and only set-up starts cold, so it also pays JIT, codegen
    * and first-use costs: `setup_s` is where a cold start shows.
    */
  def setup(dir: Path, tr: Tracer): Unit
  /** Runs operation `i`; returns the documents it carried. */
  def op(i: Int, tr: Tracer): Long
  def checks(): Seq[String]
  def teardown(): Unit
  /** Directories whose growth the traced run reports per operation. */
  def site: Site
  lazy val corpus = new Corpus(seed, shape)
}

/** The Worker's hourly cron. Set-up is a cold build: fetch every page
  * of the base corpus, transform, land the documents, build `gen-0`
  * and flip it; one cycle more, still set-up, warms the advance path.
  * Each operation is one cycle: the server publishes a delta (some
  * issues re-filed near-copies of old ones) and answers the cycle's
  * first request with 429 and its third with 503, so every cycle runs
  * both retry branches; the cycle fetches, re-transforms
  * the raw zone, lands the new batch and runs
  * `advance --delta --compact-at 2`, which folds the batch into a delta
  * generation and seals the chain inline, so every cycle does the same
  * work. Latency runs from the publish to the flip.
  */
class HourlyRefresh(spark: SparkSession, seed: Long, seconds: Int)
    extends Workload(spark, seed) {
  val name = "hourly_refresh"
  val ops: Int = math.max(1, seconds / 20)
  val shape: Shape = Shape(baseIssues = 200, deltaIssues = 50,
    cycles = 1 + tracedOps, nearCopyShare = 0.08)
  private var cur: Site = _
  def site: Site = cur
  private var lastFailures: Seq[String] = Nil
  private var cycles = 0

  def setup(dir: Path, tr: Tracer): Unit = {
    cur = new Site(spark, dir, corpus, Some(new JiraServer(corpus,
      shape.cycles + 1, Site.MaxResults, Faults(Map(0L -> 429, 2L -> 503)))))
    cur.base(tr)
    lastFailures = Nil
    cycles = 0
    publishAndCycle(tr)
  }

  def op(i: Int, tr: Tracer): Long = publishAndCycle(tr)

  private def publishAndCycle(tr: Tracer): Long = {
    cycles += 1
    cur.server.get.publish(cycles)
    cur.cycle(cycles, tr)
    lastFailures ++= Checks.checkpoints(corpus, cycles,
      Checks.readCheckpoints(cur.dataDir))
    corpus.batch(cycles).size.toLong
  }

  def checks(): Seq[String] = {
    val k = cycles
    val j = Checks.readJsonl(cur.dataDir)
    val a = Checks.readAssignment(spark, cur.served)
    val c = Checks.readCheckpoints(cur.dataDir)
    lastFailures ++ Checks.corpusOut(corpus, k, j) ++
      Checks.assignment(corpus, k, Set("exact", "near"), a) ++
      Checks.selfTest(corpus, k, Some(j), Some(a), Some(c), None)
  }

  def teardown(): Unit = if (cur != null) {
    cur.server.foreach(_.stop())
    Site.deleteTree(cur.dir)
    cur = null
  }
}

/** The ingest gate: a near-dup stream over the served `gen-0`, fed one
  * Jira page of 50 docs per micro-batch by one closed-loop feeder. A
  * tenth of each page are copies of stored docs; the rest are new.
  * Set-up lands the base the way `hourly_refresh` does (fetch with no
  * faults, transform, bridge, build, flip), starts the stream and
  * feeds it two pages before any is timed.
  */
class IngestGate(spark: SparkSession, seed: Long, seconds: Int)
    extends Workload(spark, seed) {
  val name = "ingest_gate"
  val ops: Int = math.max(4, seconds / 2)
  val shape: Shape = Shape(baseIssues = 200, deltaIssues = 0, cycles = 0)
  private val warmBatches = 2
  private val pageDocs = 50
  private val copiesPerPage = 5
  private var cur: Site = _
  def site: Site = cur
  private var input: MemoryStream[StreamDoc] = _
  private var query: StreamingQuery = _
  private var sinkName: String = _
  private var pages: IndexedSeq[Seq[StreamDoc]] = _
  private var want: Set[(Long, Long)] = _
  private var startNs = 0L
  private var fed = 0

  def setup(dir: Path, tr: Tracer): Unit = {
    cur = new Site(spark, dir, corpus, Some(new JiraServer(corpus, 1,
      Site.MaxResults, Faults.Off)))
    cur.base(tr)
    feed()
    val t0 = System.nanoTime()
    import spark.implicits._
    implicit val ctx: org.apache.spark.sql.SQLContext = spark.sqlContext
    input = MemoryStream[StreamDoc]
    sinkName = s"gate_${dir.getFileName}".replaceAll("[^A-Za-z0-9_]", "_")
    query = Streams.storeNearDupStream(input.toDF(), cur.served)
      .writeStream.format("memory").queryName(sinkName)
      .option("checkpointLocation", dir.resolve("checkpoint").toString)
      .outputMode("append").start()
    fed = 0
    (0 until warmBatches).foreach(_ => feedOne())
    startNs = System.nanoTime() - t0
  }

  /** Pages of new docs with planted copies of stored ones, and the
    * pairs the gate must flag: each copy against every stored doc with
    * its text. Copy sources are plain issues nothing near-copies, so no
    * other stored doc is within the store's Jaccard threshold.
    */
  private def feed(): Unit = {
    val stored = spark.read.parquet(s"${cur.corpusDir}/documents.parquet")
      .select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1)))
    val byText = stored.groupBy(_._2).map { case (t, ds) => t -> ds.map(_._1) }
    val text = stored.toMap
    val issues = corpus.upTo(shape.cycles)
    val nearSources = issues.flatMap(_.copyOf).filter(_._1 == "near")
      .map(_._2).toSet
    val sources = issues.filter(i => i.plain && !nearSources(i.key))
      .map(_.docId).filter(text.contains).toIndexedSeq
    val fresh = new Corpus(seed + 7777L, Shape(baseIssues =
      (tracedOps + warmBatches) * (pageDocs - copiesPerPage),
      deltaIssues = 0,
      cycles = 0, exactCopyShare = 0, nearCopyShare = 0))
      .upTo(0).map(i => (i.summary + " " + i.description.getOrElse("")).trim)
    val r = new Random(seed)
    val wantB = Set.newBuilder[(Long, Long)]
    var f = 0
    pages = (0 until tracedOps + warmBatches).map { b =>
      val copies = (0 until copiesPerPage).map { c =>
        val id = 950000000L + b * pageDocs + c
        val src = sources(r.nextInt(sources.size))
        byText(text(src)).foreach(m => wantB += ((id, m)))
        (id, text(src))
      }
      val news = (0 until pageDocs - copiesPerPage).map { _ =>
        f += 1
        (900000000L + f, fresh(f - 1))
      }
      r.shuffle(copies ++ news).zipWithIndex.map { case ((id, t), n) =>
        StreamDoc(id, 1700000000000000000L + (b * pageDocs + n) * 1000000L, t)
      }
    }
    want = wantB.result()
  }

  private def feedOne(): Unit = {
    input.addData(pages(fed))
    query.processAllAvailable()
    fed += 1
  }

  def op(i: Int, tr: Tracer): Long = {
    tr.span("stream.batch")(feedOne())
    pageDocs.toLong
  }

  def checks(): Seq[String] = {
    val got = spark.table(sinkName).select("doc_id", "owner_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    val fedWant = want.filter(p => (p._1 - 950000000L) / pageDocs < fed)
    Checks.flagged(fedWant, got) ++ Option.when(query.exception.nonEmpty)(
      s"gate query failed: ${query.exception.get}").toSeq ++
      Checks.selfTest(corpus, 0, None, None, None, Some((fedWant, got)))
  }

  def flaggedCount: Long = spark.table(sinkName).count()
  def streamStartNs: Long = startNs
  def queryId: java.util.UUID = query.id

  def teardown(): Unit = {
    if (query != null) { query.stop(); query.awaitTermination() }
    query = null
    if (cur != null) {
      spark.sql(s"DROP VIEW IF EXISTS $sinkName")
      cur.server.foreach(_.stop())
      Site.deleteTree(cur.dir)
    }
    cur = null
  }
}

object Stats {
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)
  /** Linear interpolation between closest ranks. */
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val h = (s.size - 1) * q
      val lo = math.floor(h).toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (h - lo) * (s(hi) - s(lo))
    }
  def mean(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else xs.sum / xs.size
}
