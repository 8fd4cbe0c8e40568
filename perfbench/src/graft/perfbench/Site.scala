package graft.perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.SparkSession

import graft.Engine
import graft.run.{Main, StoreCtl}
import graft.sources.JiraConfig

/** One deployment's directories and its Jira endpoint, if it fetches:
  * the raw zone, checkpoints and JSONL corpus (`data/`), the
  * `documents` table the store reads (`corpus/`), and the cluster
  * store's generation root (`store/`). Every step goes through the
  * same public entry point an operator's cron would call.
  */
final class Site(spark: SparkSession, val dir: Path, val corpus: Corpus,
                 val server: Option[JiraServer]) {
  import Site.MaxResults
  val dataDir: Path = dir.resolve("data")
  val corpusDir: String = dir.resolve("corpus").toString
  val storeRoot: String = dir.resolve("store").toString
  // no polite delay and a short 429 sleep; the retry policy itself is
  // the production one (5xx backs off retry_backoff_base ** attempt s)
  private lazy val cfg: JiraConfig = JiraConfig(baseUrl = server.get.baseUrl,
    projects = Corpus.Projects.map(_._1), maxResults = MaxResults,
    politeDelaySeconds = 0.0, rateLimitSleepSeconds = 0.02)
  Files.createDirectories(dir)
  new java.io.File(storeRoot).mkdirs()

  private def pipeline(extract: Boolean): Unit =
    if (!Main.runPipeline(Main.Options(runExtract = extract,
        runTransform = !extract, dataDir = dataDir, cfg = cfg), Some(spark)))
      throw new IllegalStateException(
        s"pipeline ${if (extract) "--extract" else "--transform"} failed")

  private def storeCtl(args: String*): String =
    StoreCtl.run(spark, args) match {
      case Right(msg) => msg
      case Left(err) =>
        throw new IllegalStateException(s"StoreCtl ${args.head}: $err")
    }

  def extract(tr: Tracer): Unit = tr.span("sources.extract")(pipeline(true))
  def transform(tr: Tracer): Unit =
    tr.span("etl.transform")(pipeline(false))

  /** JSONL -> `documents` for the issues batch `k` added. Production has
    * no such link; this is benchmark code and is timed as its own layer.
    */
  def bridge(k: Int, tr: Tracer): Unit = tr.span("bench.adapt") {
    val want = corpus.batch(k).map(_.key).toSet
    val mapper = new ObjectMapper()
    val rows = Seq.newBuilder[(Long, String, String)]
    val files = Files.list(dataDir.resolve("processed"))
    try files.iterator().asScala.filter(_.toString.endsWith(".jsonl"))
      .foreach { f =>
        Files.readAllLines(f, StandardCharsets.UTF_8).asScala.foreach { l =>
          // the sink writes "id" first: `{"id": "KEY", ...`
          val key = l.substring(8, math.max(8, l.indexOf('"', 8)))
          if (want(key)) {
            val n = mapper.readTree(l)
            val text = Seq("title", "description")
              .flatMap(c => Option(n.get(c)).filterNot(_.isNull))
              .map(_.asText()).filter(_.nonEmpty).mkString(" ")
            val p = key.substring(0, key.lastIndexOf('-'))
            rows += ((Corpus.docId(p, key.substring(p.length + 1).toInt),
              text, p))
          }
        }
      }
    finally files.close()
    append(k, rows.result())
  }

  private def append(k: Int, rows: Seq[(Long, String, String)]): Unit = {
    import spark.implicits._
    rows.map { case (id, text, p) => (id, text, "en", p, text.length.toLong, k) }
      .toDF("doc_id", "text", "lang", "source", "n_chars", "batch")
      .coalesce(1).write.mode("append").parquet(s"$corpusDir/documents.parquet")
    Engine.invalidateCorpus(spark, corpusDir)
  }

  def build(tr: Tracer): Unit = {
    tr.span("store.build")(storeCtl("build", "cluster", corpusDir,
      s"$storeRoot/gen-0", "batch = 0"))
    tr.span("store.flip")(storeCtl("flip", storeRoot, "gen-0"))
  }

  /** Folds batch `k` into a delta generation and, at depth 2, seals the
    * chain inline: every cycle lands the same shape.
    */
  def advance(k: Int, tr: Tracer): Unit =
    tr.span("store.advance")(storeCtl("advance", "--delta", "--compact-at",
      "2", "cluster", corpusDir, storeRoot, s"batch = $k"))

  def served: String = storeCtl("serve", storeRoot)

  /** Fetch, transform and land the base corpus, then build and flip
    * `gen-0`.
    */
  def base(tr: Tracer): Unit = tr.span("setup.base") {
    server.get.publish(0)
    extract(tr); transform(tr); bridge(0, tr); build(tr)
  }

  /** One cron cycle: the server has published delta `k`. */
  def cycle(k: Int, tr: Tracer): Unit = {
    extract(tr); transform(tr); bridge(k, tr); advance(k, tr)
  }

}

object Site {
  val MaxResults = 50

  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val w = Files.walk(p)
      try w.iterator().asScala.toSeq.reverse.foreach(Files.delete)
      finally w.close()
    }

  def treeBytes(p: Path): Long =
    if (!Files.exists(p)) 0L
    else {
      val w = Files.walk(p)
      try w.iterator().asScala.filter(Files.isRegularFile(_))
        .map(Files.size).sum
      finally w.close()
    }
}
