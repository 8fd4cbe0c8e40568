package graft.perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress}

import graft.Engine

/** Pipeline benchmark: Jira fetch -> transform -> cluster store ->
  * ingest gate, driven through the production entry points.
  *
  *   PerfBench --workload W --seed N --seconds S --trace 0|1 --work DIR
  *             [--record FILE]
  *
  * Prints one JSON object as the last line of stdout: the end-to-end
  * metrics with `--trace 0`, the per-layer metrics with `--trace 1`.
  * Exit 1 when a check fails or an operation throws.
  */
object PerfBench {

  final case class Args(workload: String, seed: Long, seconds: Int,
                        trace: Boolean, work: Path, record: Option[Path])

  /** One timed phase: per-operation latency and process CPU, the
    * calibration samples taken before the first operation and after
    * each, the share of CPU time the hypervisor stole during each
    * operation (reported, not applied), documents, and directory growth
    * per traced operation.
    */
  final case class Phase(latNs: Seq[Long], cpuNs: Seq[Long],
                         calib: Seq[Calib], steal: Seq[Double], docs: Long,
                         failed: Int, perOp: Seq[Map[String, Double]]) {
    def latMs: Seq[Double] = latNs.map(_ / 1e6)
    /** Each latency over its operation's wall factor. */
    def normMs: Seq[Double] = latMs.indices.map { i =>
      latMs(i) / Calib.wallFactor(calib(i), calib(i + 1)) }
    /** Process CPU per operation, s, each over its CPU factor. */
    def normCpuS: Double = Stats.mean(cpuNs.indices.map { i =>
      cpuNs(i) / 1e9 / Calib.cpuFactor(calib(i), calib(i + 1)) })
    /** The phase's wall factor: raw over normalized operation time. */
    def box: Double = latMs.sum / normMs.sum
  }

  def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).collect { case Array(k, v) => k -> v }.toMap
    def need(k: String) = m.getOrElse(k,
      throw new IllegalArgumentException(s"missing $k"))
    Args(need("--workload"), need("--seed").toLong, need("--seconds").toInt,
      need("--trace") == "1", Paths.get(need("--work")),
      m.get("--record").map(Paths.get(_)))
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS",
      Runtime.getRuntime.availableProcessors.toString)
    val t0 = System.nanoTime()
    val spark = Engine.session("perfbench", cpus)
    val sessionNs = System.nanoTime() - t0
    val code =
      try run(spark, a, sessionNs)
      finally spark.stop()
    sys.exit(code)
  }

  private def workload(spark: SparkSession, a: Args): Workload =
    a.workload match {
      case "hourly_refresh" => new HourlyRefresh(spark, a.seed, a.seconds)
      case "ingest_gate"    => new IngestGate(spark, a.seed, a.seconds)
      case w => throw new IllegalArgumentException(s"unknown workload $w")
    }

  private def run(spark: SparkSession, a: Args, sessionNs: Long): Int = {
    val meter = new Meter(spark)
    val progress = new ConcurrentLinkedQueue[StreamingQueryProgress]()
    spark.streams.addListener(new StreamingQueryListener {
      import StreamingQueryListener._
      def onQueryStarted(e: QueryStartedEvent): Unit = ()
      def onQueryProgress(e: QueryProgressEvent): Unit = progress.add(e.progress)
      def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
    })
    val runId = java.util.UUID.randomUUID().toString
    val off = new Tracer(false, meter, runId)
    val w = workload(spark, a)
    Files.createDirectories(a.work)

    val threads = Runtime.getRuntime.availableProcessors
    /** Runs `n` operations; operation i is traced when `traced(i)`. */
    def timed(n: Int, on: Tracer, traced: Int => Boolean): Phase = {
      val calib = Seq.newBuilder[Calib]
      calib += meter.calib(threads)
      val cpu = Seq.newBuilder[Long]
      val lat = Seq.newBuilder[Long]
      val steal = Seq.newBuilder[Double]
      val perOp = Seq.newBuilder[Map[String, Double]]
      var docs = 0L
      var failed = 0
      (0 until n).foreach { i =>
        val tr = if (traced(i)) on else off
        val before = if (tr.enabled) observe(w) else Map.empty[String, Double]
        val j = meter.cpuJiffies
        val cpu0 = meter.procCpuNs
        val t = System.nanoTime()
        try docs += tr.span("op")(w.op(i, tr))
        catch {
          case NonFatal(e) =>
            failed += 1
            System.err.println(s"[perfbench] op $i failed: $e")
        }
        lat += System.nanoTime() - t
        cpu += meter.procCpuNs - cpu0
        steal += meter.stealShare(j, meter.cpuJiffies)
        calib += meter.calib(threads)
        if (tr.enabled) {
          val now = observe(w)
          perOp += now.map { case (k, v) =>
            k -> (if (k.startsWith("at.")) v else v - before.getOrElse(k, 0.0))
          }
        }
      }
      Phase(lat.result(), cpu.result(), calib.result(), steal.result(), docs,
        failed, perOp.result())
    }

    /** Returns the set-up's wall, ns. */
    def setupOnce(name: String, tr: Tracer): Long = {
      w.teardown()
      spark.catalog.clearCache()
      val t = System.nanoTime()
      tr.span("setup")(w.setup(a.work.resolve(name), tr))
      System.nanoTime() - t
    }

    // the phase, its latencies as reported, the check failures, the
    // metrics, and the summary line's raw figures
    val (phase, lat, failures, metrics, raw) =
      if (!a.trace) {
        val c0 = meter.calib(threads)
        val setupNs = setupOnce("setup", off)
        val p = timed(w.ops, off, _ => false)
        // the set-up's box factor from the samples on either side of it
        val setupBox = Calib.wallFactor(c0, p.calib.head)
        val lat = p.normMs
        val cpuS = p.cpuNs.sum / 1e9 / w.ops
        val m = Seq(
          "setup_s" -> (setupNs / 1e9 / setupBox, "s"),
          "op_p50_ms" -> (Stats.median(lat), "ms"),
          "op_mean_ms" -> (Stats.mean(lat), "ms"),
          "op_p90_ms" -> (Stats.quantile(lat, 0.9), "ms"),
          "docs_per_s" -> (p.docs / (lat.sum / 1e3), "1/s"),
          "cpu_s" -> (p.normCpuS, "s"))
        (p, lat, w.checks(), m, f"raw_setup_s=${setupNs / 1e9}%.3f " +
          f"raw_op_p50_ms=${Stats.median(p.latMs)}%.1f raw_cpu_s=$cpuS%.3f " +
          f"box=$setupBox%.3f,${p.box}%.3f ")
      } else {
        // untraced and traced operations in turn, so drift across the
        // phase (JIT, a growing corpus) falls on both halves
        val on = new Tracer(true, meter, runId)
        val traced = (i: Int) => i % 2 == 1
        val st = new Tracer(true, meter, runId)
        setupOnce("traced", st)
        progress.clear()
        val both = timed(w.tracedOps, on, traced)
        val idx = both.latNs.indices
        val plainNs = idx.filterNot(traced).map(both.latNs(_)).sum
        val tracedNs = idx.filter(traced).map(both.latNs(_)).sum
        val m = layers(w, on, st, both, plainNs, tracedNs,
          progress.asScala.toSeq, sessionNs) ++ Map(
          "engine.box_factor" -> (both.box, "ratio"),
          "engine.peak_rss_mb" -> (meter.peakRssMb, "MB"),
          "engine.live_heap_mb" -> (meter.liveHeapMb, "MB"))
        // the spans must account for the operations' time; against the
        // untraced half (trace.layer_sum_frac) the box's own noise adds in
        val gap = m("trace.unattributed_frac")._1
        val reconcile = Option.when(gap > 0.10)(
          f"$gap%.3f of the traced operations' wall is outside every span")
        a.record.foreach(writeRecord(_, a, w, on, st, m, runId))
        (both, both.latMs, w.checks() ++ reconcile, m, "")
      }
    w.teardown()

    val ok = failures.isEmpty && phase.failed == 0
    failures.foreach(f => System.err.println(s"[perfbench] CHECK FAILED: $f"))
    // the workload's own names for the end-to-end numbers
    val alias = w.name match {
      case "hourly_refresh" =>
        f"refresh_p50_s=${Stats.median(lat) / 1e3}%.3f " +
          f"refresh_mean_s=${Stats.mean(lat) / 1e3}%.3f"
      case _ =>
        f"gate_p50_ms=${Stats.median(lat)}%.1f " +
          f"gate_p90_ms=${Stats.quantile(lat, 0.9)}%.1f " +
          f"gate_docs_per_s=${phase.docs / (lat.sum / 1e3)}%.1f"
    }
    println(s"[perfbench] ${w.name} seed=${a.seed} samples=${lat.size} " +
      s"$alias failed_frac=${phase.failed.toDouble / lat.size} " + raw +
      f"steal=${Stats.mean(phase.steal)}%.3f")
    val body = metrics.map { case (k, (v, u)) =>
      s""""$k": {"value": ${num(v)}, "unit": "$u"}""" }.mkString(", ")
    println(s"""{"correct": $ok, "attempted": ${lat.size}, "failed": ${
      phase.failed}, "metrics": {$body}}""")
    if (ok) 0 else 1
  }

  private def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "0" else v.toString

  /** Per-operation directory sizes and line counts, read outside every
    * span. Keys starting `at.` are levels, the rest are differenced.
    */
  private def observe(w: Workload): Map[String, Double] = {
    val s = w.site
    if (s == null) Map.empty
    else {
      val c = s.server.map(_.counters).getOrElse(Map.empty[String, Double])
        .withDefaultValue(0.0)
      val chain = scala.util.Try(graft.operators.StoreFiles
        .chainPaths(s.served).toOption.get.size.toDouble).getOrElse(0.0)
      Map(
        "requests" -> c("requests"), "faults" -> c("faults"),
        "pages" -> c("pages"), "backoff_s" -> c("backoff_s"),
        "raw_mb" -> Site.treeBytes(s.dataDir.resolve("raw")) / 1e6,
        "docs_mb" -> Site.treeBytes(Paths.get(s.corpusDir)) / 1e6,
        "store_mb" -> Site.treeBytes(Paths.get(s.storeRoot)) / 1e6,
        "at.out_mb" -> Site.treeBytes(s.dataDir.resolve("processed")) / 1e6,
        "at.chain_depth" -> chain)
    }
  }

  /** The per-layer record of a traced phase, every number per operation
    * unless its name says otherwise.
    */
  private def layers(w: Workload, tr: Tracer, st: Tracer, p: Phase,
                     plainNs: Long,
                     tracedNs: Long, progress: Seq[StreamingQueryProgress],
                     sessionNs: Long): Map[String, (Double, String)] = {
    // traced operations only
    val n = math.max(1, p.perOp.size).toDouble
    val engine = tr.named("op").map(_.delta).foldLeft(Snap.Zero)(_ + _)
    // the set-up's cold build of the base corpus: fetch through flip
    val build = st.named("store.build")
    val base = st.named("setup.base").map(_.durNs).sum
    def spans(prefix: String) = tr.spans.filter(_.name.startsWith(prefix))
    def secs(prefix: String) = spans(prefix).map(_.durNs).sum / 1e9 / n
    def sum(prefix: String)(f: Snap => Long) =
      spans(prefix).map(s => f(s.delta)).sum.toDouble
    def per(k: String) = p.perOp.map(_.getOrElse(k, 0.0)).sum / n
    val jsonl = w.site match {
      case null => Map.empty[String, Seq[(String, Boolean)]]
      case s    => Checks.readJsonl(s.dataDir)
    }
    val selfByLayer = tr.selfByLayer
    val layerSelf = selfByLayer.filter(_._1 != "op").values.sum.toDouble
    val requests = per("requests")
    val docsMb = per("docs_mb")
    val gate = w match {
      case g: IngestGate =>
        val mine = progress.filter(_.id == g.queryId)
        def dur(k: String) = Stats.mean(mine.map(x =>
          Option(x.durationMs.get(k)).map(_.toDouble).getOrElse(0.0)))
        val b = spans("stream.batch")
        Map(
          "stream.start_s" -> (g.streamStartNs / 1e9, "s"),
          "stream.jobs_per_batch" -> (sum("stream.batch")(_.jobs) / n, "count"),
          "stream.task_cpu_ms_per_batch" ->
            (sum("stream.batch")(_.taskCpuNs) / 1e6 / n, "ms"),
          "stream.triggers_per_batch" ->
            (mine.size.toDouble / p.latNs.size, "count"),
          "stream.add_batch_ms" -> (dur("addBatch"), "ms"),
          "stream.wal_commit_ms" -> (dur("walCommit"), "ms"),
          "stream.commit_offsets_ms" -> (dur("commitOffsets"), "ms"),
          "stream.planning_ms" -> (dur("queryPlanning"), "ms"),
          "stream.flagged" -> (g.flaggedCount.toDouble, "count"),
          "stream.batch_s" -> (b.map(_.durNs).sum / 1e9 / n, "s"))
      case _ => Seq("stream.start_s" -> "s", "stream.jobs_per_batch" -> "count",
          "stream.task_cpu_ms_per_batch" -> "ms",
          "stream.triggers_per_batch" -> "count", "stream.add_batch_ms" -> "ms",
          "stream.wal_commit_ms" -> "ms", "stream.commit_offsets_ms" -> "ms",
          "stream.planning_ms" -> "ms", "stream.flagged" -> "count",
          "stream.batch_s" -> "s").map { case (k, u) => k -> (0.0, u) }.toMap
    }
    val kernels = Kernels.run(w.corpus.upTo(w.corpus.shape.cycles))
      .map { case (k, v) =>
        k -> (v, if (k.endsWith("per_issue")) "ns" else "ns/B") }
    Map(
      "sources.fetch_s" -> (secs("sources."), "s"),
      "sources.requests" -> (requests, "count"),
      "sources.faults" -> (per("faults"), "count"),
      "sources.backoff_s" -> (per("backoff_s"), "s"),
      "sources.pages" -> (per("pages"), "count"),
      "sources.useful_frac" ->
        (if (requests == 0) 0.0 else per("pages") / requests, "ratio"),
      "sources.raw_mb" -> (per("raw_mb"), "MB"),
      "etl.transform_s" -> (secs("etl."), "s"),
      "etl.records_in" -> (w.corpus.upTo(w.corpus.shape.cycles).size.toDouble,
        "count"),
      "etl.records_out" -> (jsonl.values.map(_.size).sum.toDouble, "count"),
      "etl.rejected" -> (jsonl.values.map(_.count(_._2)).sum.toDouble, "count"),
      "etl.out_mb" -> (p.perOp.lastOption.flatMap(_.get("at.out_mb"))
        .getOrElse(0.0), "MB"),
      "etl.jobs" -> (sum("etl.")(_.jobs) / n, "count"),
      "etl.task_cpu_s" -> (sum("etl.")(_.taskCpuNs) / 1e9 / n, "s"),
      "etl.shuffle_mb" -> (sum("etl.")(_.shuffleBytes) / 1e6 / n, "MB"),
      "store.build_s" -> (build.map(_.durNs).sum / 1e9, "s"),
      "store.build_jobs" -> (build.map(_.delta.jobs).sum.toDouble, "count"),
      "store.build_task_cpu_s" ->
        (build.map(_.delta.taskCpuNs).sum / 1e9, "s"),
      "store.build_shuffle_mb" ->
        (build.map(_.delta.shuffleBytes).sum / 1e6, "MB"),
      "setup.s" -> (st.named("setup").map(_.durNs).sum / 1e9, "s"),
      "setup.base_issues_per_s" ->
        (if (base == 0) 0.0 else w.shape.baseIssues / (base / 1e9), "1/s"),
      "setup.transform_s" -> (st.named("etl.transform").headOption
        .map(_.durNs / 1e9).getOrElse(0.0), "s"),
      "store.advance_s" -> (Stats.median(spans("store.advance")
        .map(_.durNs / 1e9).toSeq), "s"),
      "store.jobs" -> (sum("store.")(_.jobs) / n, "count"),
      "store.task_cpu_s" -> (sum("store.")(_.taskCpuNs) / 1e9 / n, "s"),
      "store.shuffle_mb" -> (sum("store.")(_.shuffleBytes) / 1e6 / n, "MB"),
      "store.peak_task_mem_mb" -> ((spans("store.").map(_.peakTaskMemBytes) ++
        build.map(_.peakTaskMemBytes) :+ 0L).max / 1e6, "MB"),
      "store.chain_depth" -> (Stats.mean(p.perOp.map(_.getOrElse(
        "at.chain_depth", 0.0))), "count"),
      "store.write_amp" ->
        (if (docsMb == 0) 0.0 else per("store_mb") / docsMb, "ratio"),
      "engine.jobs" -> (engine.jobs / n, "count"),
      "engine.task_cpu_s" -> (engine.taskCpuNs / 1e9 / n, "s"),
      "engine.shuffle_mb" -> (engine.shuffleBytes / 1e6 / n, "MB"),
      "engine.gc_ms" -> (engine.gcMs / n, "ms"),
      "engine.proc_cpu_s" -> (engine.procCpuNs / 1e9 / n, "s"),
      "engine.session_start_s" -> (sessionNs / 1e9, "s"),
      "engine.steal_frac" -> (Stats.mean(p.steal), "ratio"),
      "bench.adapt_s" -> (secs("bench."), "s"),
      "bench.samples" -> (n, "count"),
      "trace.overhead_frac" -> (tracedNs.toDouble / plainNs - 1.0, "ratio"),
      "trace.unattributed_frac" ->
        (selfByLayer.getOrElse("op", 0L).toDouble / tracedNs, "ratio"),
      "trace.layer_sum_frac" -> (layerSelf / plainNs, "ratio")
    ) ++ gate ++ kernels
  }

  private def js(v: Any): String = v match {
    case s: String => "\"" + s.flatMap {
        case '"' => "\\\""; case '\\' => "\\\\"
        case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
      } + "\""
    case d: Double => num(d)
    case n: Int => n.toString
    case n: Long => n.toString
    case b: Boolean => b.toString
    case m: Map[_, _] =>
      m.toSeq.sortBy(_._1.toString).map { case (k, x) => js(k.toString) + ": " + js(x) }
        .mkString("{", ", ", "}")
    case s: scala.collection.Seq[_] => s.map(js).mkString("[", ", ", "]")
    case (x, y) => js(Seq(x, y))
    case null => "null"
    case o => js(o.toString)
  }

  private def writeRecord(path: Path, a: Args, w: Workload, tr: Tracer,
                          st: Tracer, m: Map[String, (Double, String)],
                          runId: String): Unit = {
    Files.createDirectories(path.getParent)
    val rec = Map(
      "run_id" -> runId, "workload" -> w.name, "seed" -> a.seed,
      "seconds" -> a.seconds, "shape" -> w.shape.describe,
      "metrics" -> m.map { case (k, (v, u)) => k -> Map("value" -> v, "unit" -> u) },
      "self_s_by_layer" -> tr.selfByLayer.map { case (k, v) => k -> v / 1e9 },
      "setup_spans" -> st.spans.map(span(_, runId)),
      "spans" -> tr.spans.map(span(_, runId)))
    Files.write(path, (js(rec) + "\n").getBytes(StandardCharsets.UTF_8))
  }

  private def span(s: Span, runId: String): Map[String, Any] = Map(
        "id" -> s.id, "parent" -> s.parent, "name" -> s.name,
        "run_id" -> runId, "start_ns" -> s.startNs, "end_ns" -> s.endNs,
        "jobs" -> s.delta.jobs, "task_cpu_ns" -> s.delta.taskCpuNs,
        "shuffle_bytes" -> s.delta.shuffleBytes, "gc_ms" -> s.delta.gcMs,
        "peak_task_mem_bytes" -> s.peakTaskMemBytes)
}
