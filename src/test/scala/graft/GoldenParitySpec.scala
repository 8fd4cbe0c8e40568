package graft

import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.databind.node.{ArrayNode, ObjectNode}
import org.scalatest.funsuite.AnyFunSuite

import graft.etl.{JiraTransform, JsonlSink}

/** The strongest correctness oracle available (SURVEY.md §5): re-running the
  * transform over the reference's shipped raw zone must reproduce its
  * shipped processed corpus.
  *
  * `data/raw/` ships 364 issues across 9 page files while the golden corpus
  * has 414 records — `HADOOP_0.json` (the first 50 HADOOP issues) is not in
  * the snapshot — so records are matched by id and compared field-by-field;
  * `classifications` is compared as a SET (the reference's `list(set(...))`
  * order is not reproducible even between its own runs, SURVEY.md §7.4).
  * Record ORDER is asserted to follow (lexicographic file name, in-page
  * position). Byte-level format is asserted whenever the classification
  * order happens to coincide.
  *
  * The snapshot is not part of this repository, so its four tests run only
  * where its `data/raw` and `data/processed` directories exist and cancel
  * elsewhere. The same comparison runs unconditionally over the committed
  * corpus under `src/test/resources/jira/`: raw pages in the reference's
  * shape and expected JSONL written by hand from the cited reference
  * semantics (its README.md gives the citation for every non-trivial field).
  */
class GoldenParitySpec extends AnyFunSuite {

  /** Raw page files and the directory of expected `{PROJ}_issues.jsonl`. */
  private case class Corpus(rawDir: Path, processedDir: Path) {
    def rawGlob: String = s"$rawDir/*.json"
  }

  // the reference's shipped snapshot: raw pages beside the processed corpus
  private val goldenDir = Paths.get("/root/reference/data/processed")
  private val snapshot = Corpus(goldenDir.resolveSibling("raw"), goldenDir)
  private val rawGlob = snapshot.rawGlob

  private lazy val fixtures: Corpus = {
    val root = Paths.get(getClass.getResource("/jira").toURI)
    Corpus(root.resolve("raw"), root.resolve("processed"))
  }

  private val mapper = new ObjectMapper()

  private val transformed = mutable.Map.empty[Corpus, Map[String, Seq[String]]]

  private def outputs(corpus: Corpus): Map[String, Seq[String]] =
    transformed.getOrElseUpdate(corpus, {
      val spark = SparkSessionHelper.spark
      val records = JiraTransform.transform(
        JiraTransform.readRawPages(spark, corpus.rawGlob))
      val tmp = Files.createTempDirectory("golden").toString
      JsonlSink.writeGoldenJsonl(records, tmp)
      Seq("HADOOP", "KAFKA", "SPARK").map { p =>
        p -> Files.readAllLines(
          Paths.get(tmp, s"${p}_issues.jsonl")).asScala.toSeq
      }.toMap
    })

  private def goldenLines(corpus: Corpus, p: String): Seq[String] =
    Files.readAllLines(corpus.processedDir.resolve(s"${p}_issues.jsonl"))
      .asScala.filter(_.nonEmpty).toSeq

  /** A test over the snapshot: cancelled, not failed, where it is absent. */
  private def snapshotTest(name: String)(body: => Unit): Unit =
    test(name) {
      assume(Files.isDirectory(snapshot.rawDir) &&
        Files.isDirectory(snapshot.processedDir),
        s"reference snapshot not found at ${goldenDir.getParent}")
      body
    }

  private def sortClassifications(n: JsonNode): JsonNode = {
    val dt = n.get("derived_tasks").asInstanceOf[ObjectNode]
    val cls = dt.get("classifications").asInstanceOf[ArrayNode]
    val sorted = cls.elements().asScala.map(_.asText()).toSeq.sorted
    val na = mapper.createArrayNode()
    sorted.foreach(na.add)
    dt.set[JsonNode]("classifications", na)
    n
  }

  private def checkProject(project: String, expectedCount: Int,
                           corpus: Corpus = snapshot): Unit = {
    val ours = outputs(corpus)(project)
    val golden = goldenLines(corpus, project)
    val goldenById = golden.map(l => mapper.readTree(l).get("id").asText() -> l).toMap

    assert(ours.size == expectedCount, s"$project record count")

    // Order parity: our id sequence must be a contiguous suffix-aligned
    // subsequence of the golden id order (equal when all pages shipped).
    val ourIds = ours.map(l => mapper.readTree(l).get("id").asText())
    val goldenIds = golden.map(l => mapper.readTree(l).get("id").asText())
    assert(goldenIds.takeRight(ourIds.size) == ourIds,
      s"$project record order mismatch")

    var byteExact = 0
    ours.foreach { line =>
      val ourNode = mapper.readTree(line)
      val id = ourNode.get("id").asText()
      val goldLine = goldenById.getOrElse(id, fail(s"unexpected id $id"))
      if (line == goldLine) byteExact += 1
      val goldNode = mapper.readTree(goldLine)
      assert(sortClassifications(ourNode) == sortClassifications(goldNode),
        s"$project/$id semantic mismatch")
    }
    info(s"$project: ${ours.size} records matched, $byteExact byte-exact")
    // With classifications sorted set-wise the only byte variance left is
    // classification order; a healthy run has most records byte-exact.
    assert(byteExact > ours.size / 2, s"$project too few byte-exact records")
  }

  snapshotTest("HADOOP golden parity (shipped pages only)") {
    checkProject("HADOOP", 11)
  }
  snapshotTest("KAFKA golden parity") { checkProject("KAFKA", 119) }
  snapshotTest("SPARK golden parity") { checkProject("SPARK", 234) }

  snapshotTest("stats report zero transform errors on the golden corpus") {
    val spark = SparkSessionHelper.spark
    val st = JiraTransform.stats(JiraTransform.transform(
      JiraTransform.readRawPages(spark, rawGlob))).collect()
    assert(st.map(_.getLong(1)).sum == 364)   // records
    assert(st.map(_.getLong(2)).sum == 0)     // errors
  }

  // -- the committed hand-derived corpus --------------------------------------

  /** Parity over the fixture corpus; every expected line is compared, so the
    * expected file's own line count is pinned too. */
  private def checkFixtureProject(project: String, expectedCount: Int): Unit = {
    assert(goldenLines(fixtures, project).size == expectedCount,
      s"$project expected-line count")
    checkProject(project, expectedCount, fixtures)
  }

  test("HADOOP fixture parity (error blocks, {code} spacing, CI URLs, " +
      "null and missing fields)") {
    checkFixtureProject("HADOOP", 3)
  }

  test("KAFKA fixture parity (QA pairs, nameless status, non-ASCII " +
      "escaping, malformed created)") {
    checkFixtureProject("KAFKA", 3)
  }

  test("SPARK fixture parity (page files in _0 < _100 < _50 order, " +
      "multi-label set, 147+... truncation)") {
    checkFixtureProject("SPARK", 5)
  }

  test("stats report zero transform errors on the fixture corpus") {
    val spark = SparkSessionHelper.spark
    val st = JiraTransform.stats(JiraTransform.transform(
      JiraTransform.readRawPages(spark, fixtures.rawGlob))).collect()
    val byProject = st.map(r =>
      r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    // (records, transform errors, validation errors): KAFKA-203's malformed
    // `created` and SPARK-351's empty comment bodies fail validation and
    // are still written
    assert(byProject == Map("HADOOP" -> (3L, 0L, 0L),
      "KAFKA" -> (3L, 0L, 1L), "SPARK" -> (5L, 0L, 1L)))
  }

  test("one structurally-bad issue in a page keeps the page's GOOD " +
      "issues (the reference's per-issue loop continues) instead of " +
      "nulling the whole array") {
    val spark = SparkSessionHelper.spark
    val d = java.nio.file.Files.createTempDirectory("graft_badpage")
    java.nio.file.Files.writeString(d.resolve("BAD_0.json"),
      """[{"key": "BAD-1", "fields": {"summary": "good one"}},
        | {"key": "BAD-2", "fields": "oops-not-an-object"},
        | "scalar-element",
        | {"key": "BAD-3", "fields": {"summary": "another good"}}]"""
        .stripMargin)
    // a whole-file parse failure still skips the file (unchanged)
    java.nio.file.Files.writeString(d.resolve("BAD_50.json"), "not json")
    val recs = JiraTransform.transform(
      JiraTransform.readRawPages(spark, s"$d/*.json")).collect()
    assert(recs.length == 4, recs.mkString("\n"))
    val byId = recs.map(r => r.record.id -> r.record).toMap
    assert(byId("BAD-1").title == "good one")
    assert(byId("BAD-3").title == "another good")
    // the wrong-typed fields element survives as a record too
    // (PERMISSIVE nulls the bad field; the reference reduces it to an
    // error record — either way the page's good issues are NOT lost)
    assert(byId.contains("BAD-2"))
  }
}
