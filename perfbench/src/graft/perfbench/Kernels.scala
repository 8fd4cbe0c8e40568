package graft.perfbench

import java.nio.charset.StandardCharsets

import graft.etl.{JiraTransform, PyJson}
import graft.functions.{CleanText, Derive}

/** The per-record functions the transform runs inside its tasks, timed
  * in one thread of this JVM over the workload's own issues. Spark gives
  * them no span of their own; these rates are how `etl.task_cpu_s`
  * splits between them.
  */
object Kernels {
  // results land here so the JIT cannot drop the timed calls
  @volatile private var sink = 0L

  private def utf8(s: String): Long =
    if (s == null) 0L else s.getBytes(StandardCharsets.UTF_8).length.toLong

  /** Best of `passes` passes of ns per unit, each pass at least ~50 ms. */
  private def rate(units: Double, passes: Int = 5)(body: => Unit): Double = {
    var reps = 1
    var t = 0L
    do {
      val t0 = System.nanoTime()
      (0 until reps).foreach(_ => body)
      t = System.nanoTime() - t0
      if (t < 50000000L) reps *= 2
    } while (t < 50000000L)
    (0 until passes).map { _ =>
      val t0 = System.nanoTime()
      (0 until reps).foreach(_ => body)
      (System.nanoTime() - t0).toDouble / reps / units
    }.min
  }

  def run(issues: Seq[GenIssue]): Map[String, Double] = {
    val raw = issues.map(_.toRaw)
    val texts = issues.flatMap(i =>
      Seq(i.summary) ++ i.description.toSeq ++ i.comments.map(_.body))
    val cleanDesc = issues.map(i => CleanText(i.description.orNull))
    val cleanBodies = issues.map(_.comments.map(c => CleanText(c.body)))
    val titles = issues.map(i => CleanText(i.summary))
    val records = raw.map(JiraTransform.transformIssue)
    val lines = records.map(PyJson.serialize)
    val descBytes = cleanDesc.map(utf8).sum.toDouble
    Map(
      "functions.clean_text_ns_per_b" -> rate(texts.map(utf8).sum.toDouble) {
        texts.foreach(t => sink += CleanText(t).length)
      },
      "functions.qa_pairs_ns_per_b" -> rate(descBytes) {
        cleanDesc.zip(cleanBodies).foreach { case (d, b) =>
          sink += Derive.extractQaPairs(d, b).size
        }
      },
      "functions.summary_ns_per_b" -> rate(descBytes) {
        titles.zip(cleanDesc).foreach { case (t, d) =>
          sink += Derive.generateSummary(t, d).length
        }
      },
      "functions.classify_ns_per_issue" -> rate(issues.size.toDouble) {
        issues.foreach { i =>
          sink += Derive.classifyIssue(Some(i.summary), i.labels,
            Some(i.issueType)).size
        }
      },
      "functions.pyjson_ns_per_b" -> rate(lines.map(utf8).sum.toDouble) {
        records.foreach(r => sink += PyJson.serialize(r).length)
      })
  }
}
