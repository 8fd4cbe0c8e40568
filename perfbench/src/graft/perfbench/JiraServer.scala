package graft.perfbench

import java.net.{InetSocketAddress, URLDecoder}
import java.nio.charset.StandardCharsets
import java.util.concurrent.Executors

import com.sun.net.httpserver.{HttpExchange, HttpServer}

/** Which requests fail, by their index since the last publish
  * (retries count): status code per index. Every published state then
  * serves the same faults, whatever came before it.
  */
final case class Faults(byIndex: Map[Long, Int]) {
  def at(i: Long): Option[Int] = byIndex.get(i)
}

object Faults {
  val Off: Faults = Faults(Map.empty)
}

/** Loopback Jira search endpoint: one thread, page bodies rendered
  * before the timed phase. `publish(k)` switches to the k-th state of
  * the corpus; a request outside the rendered pages is a 404, which
  * the production client treats as fatal for the project.
  *
  * It counts what it served and the gaps the client left after each
  * fault (the retry policy's sleeps as seen from the wire).
  */
final class JiraServer(corpus: Corpus, states: Int, maxResults: Int,
                       faults: Faults) {
  import Corpus.Projects

  private def body(p: String, startAt: Int, total: Int,
                   issues: Seq[GenIssue]): Array[Byte] =
    (s"""{"expand":"schema,names","startAt":$startAt,""" +
      s""""maxResults":$maxResults,"total":$total,"issues":[""" +
      issues.map(Corpus.render).mkString(",") + "]}")
      .getBytes(StandardCharsets.UTF_8)

  /** state -> (project, startAt) -> body: the pages a client resuming
    * from the previous state's totals asks for, plus the empty page
    * past the end.
    */
  private val pages: IndexedSeq[Map[(String, Int), Array[Byte]]] =
    (0 until states).map { k =>
      Projects.flatMap { case (p, _) =>
        val total = corpus.publishedCount(p, k)
        val from = if (k == 0) 0 else corpus.publishedCount(p, k - 1)
        val all = corpus.issues(p)
        (from until total by maxResults).map { s =>
          (p, s) -> body(p, s, total,
            all.slice(s, math.min(s + maxResults, total)))
        } :+ ((p, total) -> body(p, total, total, Nil))
      }.toMap
    }

  @volatile private var state = 0
  private var index = 0L
  private var lastFaultNs = 0L
  private var gapNs = 0L
  private var served = 0L
  private var faulted = 0L
  private var pageCount = 0L

  private val server = HttpServer.create(
    new InetSocketAddress("127.0.0.1", 0), 0)
  private val pool = Executors.newSingleThreadExecutor { r =>
    val t = new Thread(r, "bench-jira"); t.setDaemon(true); t
  }
  server.setExecutor(pool)
  server.createContext("/rest/api/latest/search", (ex: HttpExchange) =>
    try handle(ex) finally ex.close())
  server.start()

  val baseUrl: String =
    s"http://127.0.0.1:${server.getAddress.getPort}/rest/api/latest/search"

  def publish(k: Int): Unit = synchronized { state = k; index = 0L }

  private def handle(ex: HttpExchange): Unit = {
    val now = System.nanoTime()
    val i = synchronized {
      if (lastFaultNs != 0L) { gapNs += now - lastFaultNs; lastFaultNs = 0L }
      served += 1
      index += 1
      index - 1
    }
    faults.at(i) match {
      case Some(code) =>
        synchronized { faulted += 1; lastFaultNs = System.nanoTime() }
        ex.sendResponseHeaders(code, -1)
      case None =>
        val q = query(ex.getRequestURI.getRawQuery)
        val project = q.getOrElse("jql", "").stripPrefix("project=")
        val startAt = q.get("startAt").flatMap(_.toIntOption).getOrElse(0)
        pages(state).get((project, startAt)) match {
          case Some(b) =>
            synchronized { pageCount += 1 }
            ex.getResponseHeaders.add("Content-Type", "application/json")
            ex.sendResponseHeaders(200, b.length.toLong)
            ex.getResponseBody.write(b)
          case None =>
            System.err.println(
              s"[jira] no page $project@$startAt in state $state")
            ex.sendResponseHeaders(404, -1)
        }
    }
  }

  private def query(raw: String): Map[String, String] =
    Option(raw).toSeq.flatMap(_.split('&')).flatMap { kv =>
      kv.split("=", 2) match {
        case Array(k, v) =>
          Some(k -> URLDecoder.decode(v, StandardCharsets.UTF_8))
        case _ => None
      }
    }.toMap

  /** Requests, faults, pages served, and post-fault gaps (s). */
  def counters: Map[String, Double] = synchronized {
    Map("requests" -> served.toDouble, "faults" -> faulted.toDouble,
      "pages" -> pageCount.toDouble, "backoff_s" -> gapNs / 1e9)
  }

  def stop(): Unit = {
    server.stop(0)
    pool.shutdownNow()
    pool.awaitTermination(10, java.util.concurrent.TimeUnit.SECONDS)
  }
}
