package graft

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

import graft.operators.StoreFiles

/** Each [[Probe]] mode's core, run on the shared test session over
  * sf0.001 for one key: the report lines keep their shape, and a
  * malformed line or unknown key is one usage error in every mode.
  */
class ProbeSpec extends AnyFunSuite {

  private val spark = SparkSessionHelper.spark
  private val dir = SparkSessionHelper.Sf0001
  // wall(jobs j, cpu c, gc-ms g)
  private val Rep = """\d+\.\d\d\(\d+j,\d+\.\dc,\d+g\)"""

  private def probe(args: String*): Seq[String] = {
    val req = Probe.parse(args).fold(e => fail(e), identity)
    val lines = new java.util.concurrent.ConcurrentLinkedQueue[String]
    Probe.run(spark, req, l => lines.add(l))
    lines.asScala.toSeq
  }

  test("time: one TIMEONE line holding one figure per rep") {
    val lines = probe("time", "q02_filter_pushdown", dir, "2", "--cold")
    assert(lines.size == 1, lines)
    assert(lines.head.matches(
      s"TIMEONE q02_filter_pushdown \\[lp-cold\\]: $Rep $Rep"), lines)
  }

  test("stages: one row per stage, and the LP rounds' changed counts") {
    val lines = probe("stages", "dd_cluster", dir)
    assert(lines.last.matches(s"STAGES dd_cluster: $Rep"), lines.last)
    val rows = lines.init
    assert(rows.nonEmpty && rows.forall(_.matches("stage +\\d+ tasks +\\d+ " +
      "cpu +\\d+\\.\\d\\ds shufW +\\d+\\.\\d\\dMB wall +\\d+\\.\\d\\ds .*")),
      rows.mkString("\n"))
    assert(rows.exists(_.matches(".* dd_cluster-lp-changed-0=\\d+.*")),
      rows.mkString("\n"))
  }

  test("aqe: two reps with AQE on, two off, and the conf restored") {
    val key = "spark.sql.adaptive.enabled"
    val was = spark.conf.getOption(key)
    val lines = probe("aqe", "q02_filter_pushdown", dir)
    assert(lines.map(_.replaceAll(Rep, "R")) == Seq(
      "AQE q02_filter_pushdown on r1: R", "AQE q02_filter_pushdown on r2: R",
      "AQE q02_filter_pushdown off r1: R",
      "AQE q02_filter_pushdown off r2: R"), lines)
    assert(spark.conf.getOption(key) == was)
  }

  test("stream: the warm run's micro-batches, then one STREAM line") {
    val lines = probe("stream", "st_window_replay", dir)
    assert(lines.last.matches(s"STREAM st_window_replay r1: $Rep"), lines)
    assert(lines.init.nonEmpty &&
      lines.init.forall(_.matches("batch +\\d+ rows +\\d+  .*")), lines)
    assert(lines.init.exists(_.contains("triggerExecution=")), lines)
  }

  test("plan: one formatted plan per key, edge frames included") {
    val out = StoreFiles.scratchDir("graft_probe_plans_", dir)
    val lines = probe("plan",
      "q02_filter_pushdown,edge:dd_cluster_fold_stored", out, "t", dir)
    val files = Seq(s"$out/q02_filter_pushdown_t.txt",
      s"$out/edge_dd_cluster_fold_stored_t.txt")
    assert(lines == Seq(s"PLAN q02_filter_pushdown: ${files(0)}",
      s"PLAN edge:dd_cluster_fold_stored: ${files(1)}"))
    files.foreach { f =>
      val text = java.nio.file.Files.readString(java.nio.file.Paths.get(f))
      assert(text.startsWith("== Physical Plan =="), s"$f: ${text.take(200)}")
    }
  }

  test("plan: a dump names no process id and no hashed store table") {
    val out = StoreFiles.scratchDir("graft_probe_plans_", dir)
    probe("plan", "edge:dd_cluster_fold_stored", out, "s", dir)
    val text = java.nio.file.Files.readString(
      java.nio.file.Paths.get(s"$out/edge_dd_cluster_fold_stored_s.txt"))
    assert(text.contains("graft_cstore_"), text.take(2000))
    assert(!text.contains(s"_p${ProcessHandle.current().pid()}"),
      text.take(2000))
    assert("graft_(bkt|chn)_[0-9a-f]{16}".r.findFirstIn(text).isEmpty,
      text.take(2000))
  }

  test("a malformed line or an unknown key is one usage error") {
    Seq("time", "stages", "aqe", "stream").foreach { m =>
      assert(Probe.parse(Seq(m, "no_such_key", dir)) ==
        Left(s"unknown query no_such_key\n${Probe.Usage}"), m)
    }
    assert(Probe.parse(Seq("plan", "q02_filter_pushdown,no_such_key",
      "/nonexistent", "t", dir)) ==
      Left(s"unknown query no_such_key\n${Probe.Usage}"))
    // edge dumps are plan-only
    assert(Probe.parse(Seq("time", "edge:dd_cluster_fold_stored", dir))
      .isLeft)
    Seq(Seq(), Seq("bogus", "q02_filter_pushdown", dir),
      Seq("time", "q02_filter_pushdown"),
      Seq("time", "q02_filter_pushdown", dir, "0"),
      Seq("stages", "q02_filter_pushdown", dir, "--cold")).foreach { a =>
      assert(Probe.parse(a) == Left(Probe.Usage), a)
    }
  }
}
