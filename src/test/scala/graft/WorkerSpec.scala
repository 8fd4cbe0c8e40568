package graft

import java.nio.file.{Files, Path, Paths}
import java.time.Instant

import org.scalatest.funsuite.AnyFunSuite

import graft.run.{Main, Worker}

/** EP3 scheduling/status semantics (`worker.py:40-184`) in virtual time,
  * plus EP1 CLI flag parsing (`main.py:98-120`).
  */
class WorkerSpec extends AnyFunSuite {

  /** A file of the committed Jira fixture set (`src/test/resources/jira`,
    * provenance in its README.md). */
  private def fixture(name: String): Path =
    Paths.get(getClass.getResource(s"/jira/$name").toURI)

  /** Virtual clock advanced by the injected sleep. */
  private class Clock(start: Long = 0L) {
    var millis: Long = start
    def now(): Instant = Instant.ofEpochMilli(millis)
    def sleep(seconds: Double): Unit = millis += (seconds * 1000).toLong
  }

  test("status file reflects success, failure, and uptime") {
    val dir = Files.createTempDirectory("graft-worker")
    val status = dir.resolve("worker_status.json")
    val clock = new Clock()
    val w = new Worker(status, clock.now _, clock.sleep _)
    w.updateStatus(success = true, "Worker started")
    val healthy = Files.readString(status)
    assert(healthy.contains("\"status\": \"healthy\""))
    assert(healthy.contains("\"message\": \"Worker started\""))
    clock.millis += 5000
    w.updateStatus(success = false, "boom")
    val err = Files.readString(status)
    assert(err.contains("\"status\": \"error\""))
    // last_successful_run survives the failure report
    assert(err.contains("\"last_successful_run\": \"1970-01-01T00:00:00Z\""))
  }

  test("runJob reports failure without throwing") {
    val dir = Files.createTempDirectory("graft-worker")
    val status = dir.resolve("s.json")
    val clock = new Clock()
    val w = new Worker(status, clock.now _, clock.sleep _)
    w.runJob(() => throw new RuntimeException("kaput"))
    val s = Files.readString(status)
    assert(s.contains("\"status\": \"error\"") && s.contains("kaput"))
  }

  test("scheduler: initial run + one interval tick in virtual time") {
    val dir = Files.createTempDirectory("graft-worker")
    val clock = new Clock()
    var runs = 0
    val w = new Worker(dir.resolve("s.json"), clock.now _, clock.sleep _)
    // interval 1h = 120 poll ticks of 30 s; run 130 ticks -> 1 initial + 1
    w.run(() => { runs += 1; true }, intervalHours = 1.0,
      maxTicks = Some(130))
    assert(runs == 2)
  }

  test("scheduler honors --no-initial-run semantics") {
    val dir = Files.createTempDirectory("graft-worker")
    val clock = new Clock()
    var runs = 0
    val w = new Worker(dir.resolve("s.json"), clock.now _, clock.sleep _)
    w.run(() => { runs += 1; true }, intervalHours = 1.0,
      skipInitialRun = true, maxTicks = Some(119))
    assert(runs == 0) // first interval not yet elapsed
  }

  test("Main flag parsing mirrors main.py defaults") {
    assert(Main.parse(Array()) == Main.Options())
    val t = Main.parse(Array("--transform"))
    assert(!t.runExtract && t.runTransform)
    val e = Main.parse(Array("--extract", "--project", "SPARK", "--clean"))
    assert(e.runExtract && !e.runTransform && e.project.contains("SPARK")
      && e.clean)
  }

  test("transform-only pipeline over the shipped fixtures succeeds") {
    val dir = Files.createTempDirectory("graft-main")
    val raw = dir.resolve("raw")
    Files.createDirectories(raw)
    // copy one small fixture page into our data dir
    val one = fixture("raw/HADOOP_50.json")
    Files.copy(one, raw.resolve(one.getFileName.toString))
    val ok = Main.runPipeline(
      Main.Options(runExtract = false, dataDir = dir),
      Some(SparkSessionHelper.spark))
    assert(ok)
    assert(Files.exists(dir.resolve("processed/HADOOP_issues.jsonl")))
  }

  test("Config.load parses the reference config.json with defaults") {
    val cfg = graft.run.Config
      .load(fixture("config.json"))
      .toOption.get
    assert(cfg.projects == Seq("HADOOP", "SPARK", "KAFKA"))
    assert(cfg.maxResults == 50 && cfg.maxRetries == 5)
    assert(cfg.incremental && cfg.lookbackDays == 7)
    assert(!cfg.verifySsl) // `"verify_ssl": false` in config.json
    assert(cfg.politeDelaySeconds == 2.0 && cfg.rateLimitSleepSeconds == 30.0)
  }

  test("a multi-line failure message still writes VALID status JSON " +
      "(the reference's json.dump escapes control chars; the hand " +
      "escaper must too)") {
    val dir = Files.createTempDirectory("graft-worker")
    val p = dir.resolve("s.json")
    val w = new Worker(p)
    w.runJob(() => throw new RuntimeException(
      "line one\nline two\twith a tab"))
    val node = new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(Files.readString(p)) // throws on invalid JSON
    assert(node.get("status").asText() == "error")
    assert(node.get("message").asText().contains("line two"))
  }

  test("--project with an unknown name keeps the FULL project list " +
      "(main.py:150-151 narrows only on a match) instead of silently " +
      "succeeding over an empty set") {
    val dir = Files.createTempDirectory("graft-main-unknown")
    // transform-only so no network is touched; the observable is the
    // processed output of the configured project still being written
    val raw = dir.resolve("raw")
    Files.createDirectories(raw)
    val one = fixture("raw/HADOOP_50.json")
    Files.copy(one, raw.resolve(one.getFileName.toString))
    val ok = Main.runPipeline(
      Main.Options(runExtract = false, dataDir = dir,
        project = Some("NOPE")),
      Some(SparkSessionHelper.spark))
    assert(ok)
    assert(Files.exists(dir.resolve("processed/HADOOP_issues.jsonl")),
      "an unknown --project must not filter the run to nothing")
  }

  test("Config.load refuses a wrong-typed projects value instead of " +
      "silently extracting the default list") {
    val dir = Files.createTempDirectory("graft-config")
    val p = dir.resolve("config.json")
    Files.writeString(p, """{"projects": "KAFKA"}""")
    val r = graft.run.Config.load(p)
    assert(r.isLeft && r.swap.exists(_.contains("array")), r)
  }

  test("Config.load rejects malformed JSON like main.py exits on it") {
    val dir = java.nio.file.Files.createTempDirectory("graft-cfg")
    val bad = dir.resolve("config.json")
    java.nio.file.Files.writeString(bad, "{not json")
    assert(graft.run.Config.load(bad).isLeft)
    assert(graft.run.Config.load(dir.resolve("missing.json")).isLeft)
  }

  // -- log-file parity (`main.py:22-29` / `worker.py:26-33`) ----------------

  test("worker.log appears and appends when file logging is on") {
    val dir = Files.createTempDirectory("graft-worker")
    val clock = new Clock()
    val w = new Worker(dir.resolve("s.json"), clock.now _, clock.sleep _,
      new graft.run.RunLog(dir, enabled = true, clock.now _))
    w.updateStatus(success = true, "Worker started")
    w.updateStatus(success = false, "boom")
    val lines = Files.readAllLines(dir.resolve("worker.log"))
    assert(lines.size == 2, s"expected 2 appended lines, got $lines")
    // Python's default asctime shape: "1970-01-01 00:00:00,000 [INFO] ..."
    assert(lines.get(0).matches(
      """\d{4}-\d{2}-\d{2} \d{2}:\d{2}:\d{2},\d{3} \[INFO\] Worker started"""))
    assert(lines.get(1).endsWith("[ERROR] boom"))
  }

  test("disabled RunLog (the default) writes no files") {
    val dir = Files.createTempDirectory("graft-worker")
    val clock = new Clock()
    val w = new Worker(dir.resolve("s.json"), clock.now _, clock.sleep _)
    w.updateStatus(success = true, "Worker started")
    assert(!Files.exists(dir.resolve("worker.log")))
  }

  test("pipeline writes main.log start/end lines when log_files is on") {
    val dir = Files.createTempDirectory("graft-main")
    val o = Main.Options(runExtract = false, runTransform = false,
      dataDir = dir,
      cfg = graft.sources.JiraConfig(logFiles = true))
    assert(Main.runPipeline(o))
    val lines = Files.readAllLines(dir.resolve("main.log"))
    assert(lines.size == 2)
    assert(lines.get(0).endsWith("[INFO] Pipeline started"))
    assert(lines.get(1).endsWith("[INFO] Pipeline completed successfully"))
    // second run APPENDS (FileHandler mode='a' parity)
    assert(Main.runPipeline(o))
    assert(Files.readAllLines(dir.resolve("main.log")).size == 4)
  }
}
