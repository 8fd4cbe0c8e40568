package graft

import org.scalacheck.{Gen, Prop, Test => SCTest}
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.{CleanText, Derive}

/** ScalaCheck properties for the transform core (SURVEY.md §5 item 3):
  * invariants that must hold for ALL inputs, not just the ported unit
  * cases. Run with a fixed seed via Test.Parameters default +
  * deterministic generator sizes (failures print the shrunken input).
  */
class TextPropertiesSpec extends AnyFunSuite {

  private def check(name: String, prop: Prop): Unit = {
    val result = SCTest.check(
      SCTest.Parameters.default.withMinSuccessfulTests(120), prop)
    assert(result.passed, s"$name: ${result.status}")
  }

  private val token: Gen[String] =
    Gen.oneOf(Gen.alphaNumStr.map(_.take(8)),
      Gen.oneOf("{code}", "{noformat}", "ERROR:", "at", "java.lang.Foo",
        "Caused", "https://ci-hadoop.apache.org/job/x", "?", ".", "!"))

  private val line: Gen[String] = for {
    n <- Gen.choose(0, 8)
    ts <- Gen.listOfN(n, token)
    prefix <- Gen.oneOf("", "  ", "\t", "[ERROR] ", "Exception ",
      "at com.foo.Bar", "Caused by: ", "java.lang.")
  } yield prefix + ts.mkString(" ")

  private val text: Gen[String] = for {
    n <- Gen.choose(0, 12)
    ls <- Gen.listOfN(n, line)
  } yield ls.mkString("\n")

  test("cleanText never returns leading/trailing whitespace") {
    check("trim", Prop.forAll(text) { t =>
      val c = CleanText(t)
      c == c.trim
    })
  }

  test("cleanText is idempotent on its own output modulo error lines") {
    // cleaning joins lines with spaces, so a second pass sees one line;
    // the invariant is that re-cleaning a cleaned single-line text only
    // ever collapses spacing, never resurrects removed content
    check("idempotent", Prop.forAll(text) { t =>
      val once = CleanText(t)
      val twice = CleanText(once)
      twice.length <= once.length &&
        twice.split(" ").filter(_.nonEmpty).toSet
          .subsetOf(once.split(" ").filter(_.nonEmpty).toSet + "[CI_URL]")
    })
  }

  test("cleanText output never contains tabs, CRs, or newlines") {
    check("no-control", Prop.forAll(text) { t =>
      val c = CleanText(t)
      !c.exists(ch => ch == '\t' || ch == '\r' || ch == '\n')
    })
  }

  test("generateSummary never exceeds 150 chars; long inputs truncate") {
    val str = Gen.listOf(token).map(_.mkString(" "))
    check("summary-bound", Prop.forAll(str, str) { (title, desc) =>
      // reference truncates only when length EXCEEDS 150
      // (`transformer.py:140-143`), so a natural 150-char summary
      // carries no ellipsis — the invariant is just the bound
      Derive.generateSummary(title, desc).length <= 150
    })
    check("summary-truncation", Prop.forAll(Gen.alphaStr) { pad =>
      val long = "T" * 160 + pad.take(20)
      val s = Derive.generateSummary(long, "")
      s.length == 150 && s.endsWith("...")
    })
  }

  test("classifyIssue labels come from the closed vocabulary") {
    val vocab = Set("bug", "feature", "improvement", "performance",
      "security", "documentation")
    val label: Gen[String] = Gen.oneOf(vocab.toSeq ++ Seq("misc", "x"))
    check("classify", Prop.forAll(
      Gen.option(Gen.alphaStr.map(_.take(30))),
      Gen.listOf(label),
      Gen.option(Gen.oneOf("Bug", "Task", "Sub-task"))) {
      (summary, labels, itype) =>
        val cls = Derive.classifyIssue(summary, labels, itype)
        // every label is a rule keyword, a whitelisted label, or the
        // lowercased issue type; and no duplicates survive
        cls.distinct == cls &&
          cls.forall(c => vocab.contains(c)
            || itype.map(_.toLowerCase).contains(c))
    })
  }

  test("the linear question scan finds exactly the regex's spans") {
    // the reference: the regex form of the scan (`transformer.py`'s
    // re.findall pattern, run with find())
    val re = java.util.regex.Pattern.compile("([^.!?]+\\?)",
      java.util.regex.Pattern.UNICODE_CHARACTER_CLASS)
    def regexSpans(s: String): Seq[String] = {
      val m = re.matcher(s)
      val out = Seq.newBuilder[String]
      while (m.find()) out += m.group(1)
      out.result()
    }
    val longBlock = "at org.apache.hadoop.Foo(Foo.java:1) INFO x " * 60
    val piece: Gen[String] = Gen.frequency(
      6 -> Gen.oneOf("a", "Why", " ", "\t", "\n", "\r\n", "é"),
      4 -> Gen.oneOf("?", "??", ".", "!", "...", "?!", "!?"),
      2 -> Gen.oneOf("\uD83D\uDE00", "\uD835\uDD18", "x\uD83D\uDE00?"),
      1 -> Gen.oneOf(longBlock, longBlock.replace(".", " ")))
    val str = Gen.choose(0, 40).flatMap(n => Gen.listOfN(n, piece))
      .map(_.mkString)
    check("qa-scan", Prop.forAll(str) { s =>
      Derive.questions(s) == regexSpans(s)
    })
    val unpunctuated = "log line without a terminator " * 400
    for (s <- Seq("", "?", "??", "?!.??!", ".!?", "a?", "a??b?",
        "\n?\n", "x\uD83D\uDE00?\uD83D\uDE00", unpunctuated,
        unpunctuated + "?", "Q? " + unpunctuated + ". Why?"))
      assert(Derive.questions(s) == regexSpans(s), s.take(40))
    assert(Derive.questions("?!.??!").isEmpty)
    assert(Derive.questions(unpunctuated + "?") == Seq(unpunctuated + "?"))
  }

  test("validateIssue flags exactly the malformed timestamps") {
    val goodTs = "2025-01-15T12:34:56.000+0000"
    val badTs = Gen.oneOf("2025-01-15", "not-a-date", "2025/01/15T00:00:00")
    check("validate", Prop.forAll(badTs) { bad =>
      val errsBad = Derive.validateIssue(Some("ID-1"), Some("t"),
        Some(bad), Some(goodTs), Nil)
      val errsGood = Derive.validateIssue(Some("ID-1"), Some("t"),
        Some(goodTs), Some(goodTs), Nil)
      errsBad.nonEmpty && errsGood.isEmpty
    })
  }
}
