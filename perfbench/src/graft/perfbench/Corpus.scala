package graft.perfbench

import java.time.{LocalDateTime, ZoneOffset}
import java.time.format.DateTimeFormatter

import scala.util.Random

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.databind.node.{JsonNodeFactory, ObjectNode}

import graft.etl.{JComment, JCommentBlock, JComponent, JFields, JNamed, JUser, RawIssue}

/** The corpus properties the pipeline's cost depends on. Every share is
  * per issue; all of them are fixed per workload and written into the
  * trace record, so a number can be read against the input it came from.
  */
final case class Shape(
    baseIssues: Int,
    deltaIssues: Int,
    cycles: Int,
    sentences: (Int, Int) = (1, 9),
    questionShare: Double = 0.15,
    traceShare: Double = 0.08,
    codeShare: Double = 0.10,
    ciUrlShare: Double = 0.05,
    logBlockShare: Double = 0.03,
    logBlockLines: (Int, Int) = (8, 16),
    meanComments: Double = 1.5,
    nullDescShare: Double = 0.05,
    nullFieldShare: Double = 0.10,
    rejectShare: Double = 0.03,
    exactCopyShare: Double = 0.03,
    nearCopyShare: Double = 0.03) {

  require(exactCopyShare + nearCopyShare + rejectShare + nullDescShare +
    logBlockShare + traceShare + codeShare + ciUrlShare <= 1.0)

  def describe: Map[String, Any] = Map(
    "base_issues" -> baseIssues, "delta_issues" -> deltaIssues,
    "cycles" -> cycles, "sentences" -> s"${sentences._1}-${sentences._2}",
    "question_share" -> questionShare, "trace_share" -> traceShare,
    "code_share" -> codeShare, "ci_url_share" -> ciUrlShare,
    "log_block_share" -> logBlockShare,
    "log_block_lines" -> s"${logBlockLines._1}-${logBlockLines._2}",
    "mean_comments" -> meanComments, "null_desc_share" -> nullDescShare,
    "null_field_share" -> nullFieldShare, "reject_share" -> rejectShare,
    "exact_copy_share" -> exactCopyShare,
    "near_copy_share" -> nearCopyShare,
    "project_weights" -> Corpus.Projects.map { case (p, w) => s"$p:$w" }
      .mkString(","))
}

final case class GenComment(author: Option[String], body: String,
                            created: String)

/** One generated issue in the raw Jira shape. `copyOf` names the issue
  * whose text this one repeats (`exact`) or re-files with one word
  * changed (`near`); `reject` names the planted validation failure.
  */
final case class GenIssue(
    project: String, num: Int, summary: String, description: Option[String],
    created: String, updated: String, status: Option[String],
    priority: Option[String], issueType: String, reporter: String,
    assignee: Option[String], labels: Seq[String], components: Seq[String],
    comments: Seq[GenComment], reject: Option[String],
    copyOf: Option[(String, String)], plain: Boolean) {
  def key: String = s"$project-$num"
  def docId: Long = Corpus.docId(project, num)

  def toRaw: RawIssue = RawIssue(Some(key), Some(JFields(
    Some(summary), description, Some(created), Some(updated),
    status.map(s => JNamed(Some(s))), priority.map(p => JNamed(Some(p))),
    Some(JNamed(Some(issueType))), Some(JUser(Some(reporter))),
    assignee.map(a => JUser(Some(a))), Some(labels),
    Some(components.map(c => JComponent(Some(c)))),
    Some(JCommentBlock(Some(comments.map(c => JComment(
      c.author.map(a => JUser(Some(a))), Some(c.body), Some(c.created)))))))))
}

/** Deterministic synthetic Jira corpus. Issue `i` of a project draws
  * from its own generator seeded by (seed, project, i), so the base
  * corpus and each delta are the same whatever else is generated.
  * Batch 0 is the base; batch k >= 1 is the k-th published delta.
  */
final class Corpus(val seed: Long, val shape: Shape) {
  import Corpus._

  private val perProject: Map[String, Array[GenIssue]] = {
    val made = Map.newBuilder[String, Array[GenIssue]]
    // copies point back into the same project's earlier issues
    Projects.foreach { case (p, _) =>
      val n = publishedCount(p, shape.cycles)
      val out = new Array[GenIssue](n)
      (0 until n).foreach(i => out(i) = generate(p, i, out))
      made += p -> out
    }
    made.result()
  }

  /** Issues of project `p` published after batch `k` (batch 0 = base). */
  def publishedCount(p: String, k: Int): Int =
    split(shape.baseIssues)(p) + split(shape.deltaIssues)(p) * k

  def issues(p: String): IndexedSeq[GenIssue] = perProject(p).toIndexedSeq

  /** The issues batch `k` adds, all projects. */
  def batch(k: Int): Seq[GenIssue] = Projects.flatMap { case (p, _) =>
    val lo = if (k == 0) 0 else publishedCount(p, k - 1)
    perProject(p).slice(lo, publishedCount(p, k))
  }

  def upTo(k: Int): Seq[GenIssue] = (0 to k).flatMap(batch)

  def byKey(key: String): GenIssue = {
    val p = key.substring(0, key.lastIndexOf('-'))
    perProject(p)(key.substring(key.lastIndexOf('-') + 1).toInt - 1)
  }

  private def generate(p: String, i: Int, earlier: Array[GenIssue])
      : GenIssue = {
    val r = new Random(seed * 1000003L + p.hashCode * 7919L + i)
    val num = i + 1
    val created = Epoch.plusMinutes(i * 37L + p.length)
    val updated = created.plusHours(1 + r.nextInt(200))
    def pick[T](xs: Seq[T]): T = xs(r.nextInt(xs.length))
    val plainCandidates = (0 until i).filter(j => earlier(j).plain)
    val (kind, at) = Corpus.kindOf(Corpus.slot(seed, p, i, Golden), Seq(
      "exact" -> shape.exactCopyShare, "near" -> shape.nearCopyShare,
      "reject" -> shape.rejectShare, "null_desc" -> shape.nullDescShare,
      "log" -> shape.logBlockShare, "trace" -> shape.traceShare,
      "code" -> shape.codeShare, "ci_url" -> shape.ciUrlShare))
    val copy = Some(kind).filter(k =>
      (k == "exact" || k == "near") && plainCandidates.nonEmpty)
    val src = copy.map(_ => earlier(pick(plainCandidates)))
    val reject = Option.when(kind == "reject")(
      Seq("empty_title", "bad_date", "empty_comment")((at * 3).toInt))

    var plain = copy.isEmpty && reject.isEmpty
    val summary = reject match {
      case Some("empty_title") => ""
      case _ => src.map(_.summary).getOrElse(words(r, 4 + r.nextInt(7)))
    }
    val description = (copy, src) match {
      case (Some("exact"), Some(s)) => s.description
      case (Some("near"), Some(s)) =>
        val ws = s.description.get.split(" ")
        val at = 1 + r.nextInt(ws.length - 2)
        ws(at) = "refiled" + r.nextInt(1000)
        Some(ws.mkString(" "))
      case _ if kind == "null_desc" => plain = false; None
      case _ =>
        val (lo, hi) = shape.sentences
        val n = lo + (Corpus.slot(seed, p, i, Silver) * (hi - lo + 1)).toInt
        plain = plain && !Set("log", "trace", "code", "ci_url")(kind)
        Some(renderDescription(r, n, kind))
    }
    val nComments = poisson(r, shape.meanComments)
    val comments = (0 until nComments).map { c =>
      val body =
        if (reject.contains("empty_comment") && c == 0) ""
        else sentences(r, 1 + r.nextInt(3))
      GenComment(if (r.nextDouble() < 0.05) None else Some(pick(People)),
        body, fmt(updated.plusMinutes(c + 1L)))
    } ++ (if (reject.contains("empty_comment") && nComments == 0)
            Seq(GenComment(Some(pick(People)), "", fmt(updated)))
          else Nil)
    GenIssue(p, num, summary, description,
      if (reject.contains("bad_date"))
        created.format(DateTimeFormatter.ofPattern("yyyy/MM/dd HH:mm"))
      else fmt(created),
      fmt(updated),
      if (r.nextDouble() < shape.nullFieldShare / 5) None
      else Some(pick(Statuses)),
      if (r.nextDouble() < shape.nullFieldShare / 2) None
      else Some(pick(Priorities)),
      pick(Types), pick(People),
      if (r.nextDouble() < shape.nullFieldShare) None else Some(pick(People)),
      (0 until r.nextInt(3)).map(_ => pick(Labels)).distinct,
      (0 until r.nextInt(2)).map(_ => pick(Components)),
      comments, reject, copy.zip(src.map(_.key)).headOption,
      // a plain issue's description survives cleaning word for word and
      // is long enough that one changed word keeps Jaccard well above
      // the store's 0.6 threshold: the only safe copy source
      plain && description.exists(_.count(_ == ' ') >= 30))
  }

  /** `n` sentences, then the block `kind` names, if any. */
  private def renderDescription(r: Random, n: Int, kind: String): String = {
    val paras = Seq.newBuilder[String]
    paras += sentences(r, n)
    kind match {
      case "trace" =>
        paras += stackTrace(r)
        paras += sentences(r, 1)
      case "code" =>
        paras += s"{code:java}\n${words(r, 6)}\n${words(r, 5)}\n{code}"
      case "ci_url" =>
        paras += s"Build failed: https://ci-hadoop.apache.org/job/hadoop-" +
          s"multibranch/job/PR-${r.nextInt(9000)}/${r.nextInt(30)}/console " +
          sentences(r, 1)
      case "log" =>
        // a log dump with no sentence punctuation at all: the QA scan's
        // `[^.!?]+\?` retries from every offset of such a run
        val (a, b) = shape.logBlockLines
        paras += (0 until a + r.nextInt(b - a + 1)).map(l =>
          s"2024-03-${10 + l % 18} 12:${10 + l % 50}:0${l % 10} INFO " +
            s"${pick(r, LogSources)} ${words(r, 5)} block blk_${
              r.nextInt(100000)} size ${r.nextInt(65536)}").mkString("\n")
        paras += sentences(r, 1)
      case _ => ()
    }
    paras.result().mkString("\n\n")
  }

  private def stackTrace(r: Random): String = {
    val cls = pick(r, Exceptions)
    (Seq(s"java.lang.$cls: ${words(r, 4)}") ++
      (0 until 3 + r.nextInt(6)).map(f =>
        s"\tat org.apache.${pick(r, Packages)}.${pick(r, Classes)}" +
          s".run(${pick(r, Classes)}.java:${10 + r.nextInt(900)})") ++
      Seq(s"Caused by: java.io.IOException: ${words(r, 3)}",
        s"\tat org.apache.${pick(r, Packages)}.Io.read(Io.java:42)",
        "\t... 12 more")).mkString("\n")
  }

  private def sentences(r: Random, n: Int): String =
    (0 until n).map { _ =>
      val w = words(r, 6 + r.nextInt(13))
      val s = w.head.toUpper + w.tail
      if (r.nextDouble() < shape.questionShare) s + "?"
      else if (r.nextDouble() < 0.05) s + "!"
      else s + "."
    }.mkString(" ")

  private def words(r: Random, n: Int): String =
    (0 until n).map(_ => Vocab(r.nextInt(Vocab.length))).mkString(" ")

  private def pick[T](r: Random, xs: Seq[T]): T = xs(r.nextInt(xs.length))

  private def poisson(r: Random, mean: Double): Int = {
    val l = math.exp(-mean)
    var k = 0
    var p = r.nextDouble()
    while (p > l) { k += 1; p *= r.nextDouble() }
    k
  }
}

object Corpus {
  /** The shipped corpus' split (HADOOP 61 / KAFKA 119 / SPARK 234). */
  val Projects: Seq[(String, Int)] =
    Seq("HADOOP" -> 61, "KAFKA" -> 119, "SPARK" -> 234)

  def split(n: Int): Map[String, Int] = {
    val w = Projects.map(_._2).sum
    val head = Projects.init.map { case (p, x) => p -> n * x / w }
    (head :+ (Projects.last._1 -> (n - head.map(_._2).sum))).toMap
  }

  private val Golden = 0.6180339887498949
  private val Silver = 0.4142135623730951

  /** Issue `i`'s point in [0, 1) on a low-discrepancy sequence with a
    * seeded phase. Any run of n consecutive issues puts n * share of its
    * points, give or take one or two, in every interval of length
    * share, so the seed changes content but not the amount of each
    * kind of work.
    */
  def slot(seed: Long, project: String, i: Int, step: Double): Double = {
    val phase = new Random(seed * 31L + project.hashCode * 17L +
      step.hashCode).nextDouble()
    val x = phase + i * step
    x - math.floor(x)
  }

  /** The kind whose interval holds `u` (intervals laid end to end in
    * order, "plain" past the last) and `u`'s position inside it.
    */
  def kindOf(u: Double, kinds: Seq[(String, Double)]): (String, Double) = {
    var lo = 0.0
    kinds.foreach { case (k, share) =>
      if (u < lo + share) return (k, (u - lo) / share)
      lo += share
    }
    ("plain", 0.0)
  }

  def docId(project: String, num: Int): Long =
    (Projects.indexWhere(_._1 == project) + 1) * 10000000L + num

  private val Epoch = LocalDateTime.of(2024, 1, 2, 3, 4, 5)
  private val Stamp =
    DateTimeFormatter.ofPattern("yyyy-MM-dd'T'HH:mm:ss.SSS'+0000'")
  private def fmt(t: LocalDateTime): String =
    t.atOffset(ZoneOffset.UTC).format(Stamp)

  private val Vocab: Array[String] = (
    "the a an of to in for on with when after before during between " +
    "spark hadoop kafka yarn hdfs broker consumer producer partition " +
    "offset topic replica leader follower executor coordinator task stage job " +
    "shuffle block cache memory disk network socket timeout retry commit " +
    "checkpoint snapshot metadata schema table column row query plan " +
    "optimizer codegen join aggregate window sort filter scan read write " +
    "file directory path namenode datanode container resource scheduler " +
    "queue node cluster config property setting default value option flag " +
    "test unit integration flaky failing passing build compile release " +
    "version upgrade downgrade patch branch trunk master main fix bug " +
    "error failure crash hang deadlock leak slow fast latency throughput " +
    "performance regression improvement feature add implement support " +
    "remove deprecate update refactor cleanup document javadoc example " +
    "user client server api rest endpoint request response header token " +
    "auth kerberos ssl security permission acl owner group quota limit " +
    "size count number length large small empty null missing invalid " +
    "wrong correct expected actual observed reported seen happens occurs " +
    "should could would must may might will cannot does not is are was " +
    "were be been has have had this that these those it its we they " +
    "log message warning info debug trace stack thrown caught " +
    "handler listener callback thread pool executor lock monitor state " +
    "stream batch record event message serializer deserializer codec " +
    "compression format parquet orc avro json csv text binary encoding"
  ).split("\\s+").distinct

  private val People = Seq("Ada Lovelace", "Grace Hopper", "Alan Turing",
    "Edsger Dijkstra", "Barbara Liskov", "Ken Thompson", "Frances Allen",
    "Donald Knuth", "Radia Perlman", "Leslie Lamport", "Jim Gray",
    "Margaret Hamilton", "Tony Hoare", "John Backus", "Fran Bilas")
  private val Statuses = Seq("Open", "In Progress", "Resolved", "Closed",
    "Patch Available", "Reopened")
  private val Priorities = Seq("Blocker", "Critical", "Major", "Minor",
    "Trivial")
  private val Types = Seq("Bug", "Improvement", "New Feature", "Task",
    "Sub-task", "Test", "Wish")
  private val Labels = Seq("performance", "security", "documentation",
    "newbie", "pull-request-available", "bug", "feature", "flaky-test")
  private val Components = Seq("core", "sql", "streaming", "mllib", "yarn",
    "hdfs", "clients", "connect", "build", "docs")
  private val Exceptions = Seq("NullPointerException",
    "IllegalStateException", "IllegalArgumentException",
    "OutOfMemoryError", "UnsupportedOperationException")
  private val Packages = Seq("spark.sql", "hadoop.hdfs", "kafka.clients",
    "hadoop.yarn", "spark.scheduler", "kafka.server")
  private val Classes = Seq("Executor", "TaskRunner", "BlockManager",
    "NameNode", "KafkaApis", "Fetcher", "Planner", "ShuffleWriter")
  private val LogSources = Seq("BlockManager", "DataNode", "ReplicaFetcher",
    "TaskSetManager", "LogCleaner", "ContainerManager")

  private val json = JsonNodeFactory.instance
  private val mapper = new ObjectMapper()

  /** One issue in the Jira REST shape (`fields` as `*all` serves it). */
  def render(i: GenIssue): String = {
    val f = json.objectNode()
    f.put("summary", i.summary)
    i.description match {
      case Some(d) => f.put("description", d)
      case None    => f.putNull("description")
    }
    f.put("created", i.created)
    f.put("updated", i.updated)
    i.status.foreach(s => f.putObject("status").put("name", s))
    i.priority match {
      case Some(p) => f.putObject("priority").put("name", p)
      case None    => f.putNull("priority")
    }
    f.putObject("issuetype").put("name", i.issueType)
    f.putObject("reporter").put("displayName", i.reporter)
    i.assignee match {
      case Some(a) => f.putObject("assignee").put("displayName", a)
      case None    => f.putNull("assignee")
    }
    val labels = f.putArray("labels")
    i.labels.foreach(labels.add)
    val comps = f.putArray("components")
    i.components.foreach(c => comps.addObject().put("name", c))
    val cb = f.putObject("comment")
    val cs = cb.putArray("comments")
    i.comments.foreach { c =>
      val o: ObjectNode = cs.addObject()
      c.author match {
        case Some(a) => o.putObject("author").put("displayName", a)
        case None    => o.putNull("author")
      }
      o.put("body", c.body)
      o.put("created", c.created)
    }
    cb.put("total", i.comments.size)
    val o = json.objectNode()
    o.put("expand", "operations,editmeta,changelog,renderedFields")
    o.put("id", i.docId.toString)
    o.put("key", i.key)
    o.set[ObjectNode]("fields", f)
    mapper.writeValueAsString(o)
  }
}
