package graft.functions

import java.util.regex.Pattern
import PyText._

/** LLM-training derived tasks: summary, QA pairs, multi-label
  * classification, and record validation.
  *
  * Semantics mirror the reference (`transformer.py:92-223`) exactly; see
  * each method's note. All functions are pure and total (no exceptions on
  * null/empty input beyond what the reference itself guarantees), used
  * inside a typed Dataset map — a narrow transformation with no shuffle.
  */
object Derive {

  case class QaPair(question: String, answer: String)

  private val U = Pattern.UNICODE_CHARACTER_CLASS
  private val sentenceSplit = Pattern.compile("[.!?]")
  private val dateRe =
    Pattern.compile("\\d{4}-\\d{2}-\\d{2}T\\d{2}:\\d{2}:\\d{2}", U)

  /** `generate_summary` (`transformer.py:118-145`): title, optionally
    * extended with the description's first sentence, truncated to
    * `maxLength` code points with a trailing ellipsis.
    */
  def generateSummary(title: String, description: String,
                      maxLength: Int = 150): String = {
    var summary = title
    if (description != null && description.nonEmpty) {
      // re.split(r'[.!?]', d)[0] — everything before the first breaker.
      val firstSentence = sentenceSplit.split(description, 2)(0)
      if (firstSentence.nonEmpty && pyLen(firstSentence) > 5) {
        summary =
          if (pyLower(firstSentence).startsWith(pyLower(title))) firstSentence
          else s"$title - $firstSentence"
      }
    }
    if (pyLen(summary) > maxLength)
      summary = pySlicePrefix(summary, maxLength - 3) + "..."
    summary
  }

  /** `extract_qa_pairs` (`transformer.py:92-116`): every `?`-terminated
    * span of the description is paired with the FIRST comment body longer
    * than 10 code points (the reference breaks on the first hit, so all
    * questions share one answer); the answer is re-cleaned.
    */
  def extractQaPairs(description: String,
                     commentBodies: Seq[String]): Seq[QaPair] = {
    if (description == null) return Nil
    val qs = questions(description)
    if (qs.isEmpty) return Nil
    val answer = commentBodies
      .find(b => b != null && b.nonEmpty && pyLen(b) > 10)
      .map(CleanText.apply)
    answer match {
      case None      => Nil
      case Some(ans) => qs.map(q => QaPair(pyStrip(q), ans))
    }
  }

  /** The spans `re.findall(r'([^.!?]+\?)', s)` returns, in one pass:
    * every non-empty run of non-terminators that ends in `?`, with the
    * `?`. The regex, run with `find()`, retries each start inside an
    * unpunctuated run that no `?` ends, so it is quadratic in such runs
    * (log blocks); this scan is linear. The terminators are ASCII, so a
    * run never splits a surrogate pair.
    */
  private[graft] def questions(s: String): Seq[String] = {
    val out = Seq.newBuilder[String]
    var start = 0
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (c == '.' || c == '!' || c == '?') {
        if (c == '?' && i > start) out += s.substring(start, i + 1)
        start = i + 1
      }
      i += 1
    }
    out.result()
  }

  /** Classification signal whitelists (`transformer.py:167-186`). */
  private val bugKw = Seq("bug", "fix", "error", "fail")
  private val featureKw = Seq("feature", "add", "implement", "new")
  private val improvementKw = Seq("improve", "enhance", "refactor", "update")
  private val performanceKw = Seq("performance", "slow", "fast", "speed")
  private val labelWhitelist = Set("bug", "feature", "improvement",
    "performance", "security", "documentation")

  /** `classify_issue` (`transformer.py:147-189`), over the RAW (uncleaned)
    * fields. The reference dedups via `list(set(...))`, whose order is
    * CPython-hash-seed-dependent and not reproducible even run-to-run; our
    * canonical order is rule-application order with first-occurrence dedup
    * (what `array_distinct` would give). Golden comparisons treat the list
    * as a set (SURVEY.md §7.4 item 1).
    */
  def classifyIssue(summary: Option[String], labels: Seq[String],
                    issueTypeName: Option[String]): Seq[String] = {
    val sum = pyLower(summary.getOrElse(""))
    val out = Seq.newBuilder[String]
    issueTypeName.map(pyLower).filter(_.nonEmpty).foreach(out += _)
    if (bugKw.exists(sum.contains)) out += "bug"
    if (featureKw.exists(sum.contains)) out += "feature"
    if (improvementKw.exists(sum.contains)) out += "improvement"
    if (performanceKw.exists(sum.contains)) out += "performance"
    labels.map(pyLower).filter(labelWhitelist.contains).foreach(out += _)
    out.result().distinct
  }

  /** `validate_issue` (`transformer.py:191-223`): required id/title,
    * ISO-prefix date shape for created/updated when present, non-empty
    * comment bodies. Invalid records are counted but still written.
    */
  def validateIssue(id: Option[String], title: Option[String],
                    created: Option[String], updated: Option[String],
                    commentBodies: Seq[String]): Seq[String] = {
    val errors = Seq.newBuilder[String]
    if (!id.exists(_.nonEmpty)) errors += "Missing issue ID"
    if (!title.exists(_.nonEmpty)) errors += "Missing or empty title"
    for ((name, v) <- Seq("created" -> created, "updated" -> updated))
      v.filter(_.nonEmpty).foreach { d =>
        if (!dateRe.matcher(d).lookingAt())
          errors += s"Malformed date in $name: $d"
      }
    commentBodies.zipWithIndex.foreach { case (b, i) =>
      if (b == null || b.isEmpty) errors += s"Empty comment body at index $i"
    }
    errors.result()
  }
}
