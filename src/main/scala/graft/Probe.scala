package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.graftbench.BusFlush
import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.FormattedMode
import org.apache.spark.sql.streaming.StreamingQueryListener

import graft.operators.{Banded, BandedStore, Dedup, StoreKind}

/** The dev probe: one named query under one session ([[Engine.session]]),
  * one untimed warm-up of that query (pays its codegen, JIT and store
  * builds), then timed reps read through the bench's [[MetricListener]]
  * with a [[BusFlush]] drain on both sides of each rep.
  *
  * {{{
  * runMain graft.Probe time   <query> <sfDir> [reps] [--cold]
  * runMain graft.Probe stages <query> <sfDir>
  * runMain graft.Probe aqe    <query> <sfDir>
  * runMain graft.Probe stream <query> <sfDir> [reps]
  * runMain graft.Probe plan   <q1,q2,...> <outDir> <suffix> <sfDir>
  * }}}
  *
  * Every rep reads `wall(jobs j, executor-CPU c, GC-ms g)`; GC is the
  * JVM-wide stop-the-world time inside the rep, which attributes a wall
  * or CPU spike at unchanged jobs to heap weather rather than a plan.
  *
  *   - `time` prints each rep to stderr and one `TIMEONE` line (3 reps
  *     by default). `--cold` drops the shared LP edge registry before
  *     every rep, so LP consumers pay their edge build each time.
  *   - `stages` prints one line per stage of a warm rep: tasks, executor
  *     CPU, shuffle write, wall and the head of the stage name (the call
  *     site). A label-propagation round's stage also shows its
  *     `<op>-lp-changed-<round>` count (a round that changed nothing
  *     moves no count, so it shows none).
  *   - `aqe` runs two reps with AQE on and two with it off, the latter
  *     scoped by [[Engine.withConf]].
  *   - `stream` prints each micro-batch's `durationMs` parts and state
  *     commit times for warm runs of a replay key.
  *   - `plan` writes `explain("formatted")` of each query to
  *     `<outDir>/<query>_<suffix>.txt` with no warm-up ([[runStable]]:
  *     two runs of one commit write the same bytes). `edge:<fold key>`
  *     (the store kinds that keep an LP assignment) dumps the fold's
  *     verified-edge frame — the plan the fold checkpoints — with
  *     broadcast joins and AQE off, the join strategies a 100 TB store
  *     would get rather than the fixture-size broadcasts.
  */
object Probe {

  private[graft] final case class Req(mode: String, names: Seq[String],
                                      dir: String, reps: Int = 1,
                                      cold: Boolean = false,
                                      outDir: String = "",
                                      suffix: String = "")

  private final case class Rep(wall: Double, jobs: Int, cpu: Double,
                               gcMs: Long) {
    override def toString: String = f"$wall%.2f(${jobs}j,$cpu%.1fc,${gcMs}g)"
  }

  private[graft] val Usage: String =
    """usage: runMain graft.Probe <mode> ...
      |  time   <query> <sfDir> [reps] [--cold]
      |  stages <query> <sfDir>
      |  aqe    <query> <sfDir>
      |  stream <query> <sfDir> [reps]
      |  plan   <q1,q2,...> <outDir> <suffix> <sfDir>""".stripMargin

  private def edgeKinds: Map[String, Banded] = StoreKind.all.collect {
    case k: Banded if k.lp => s"edge:${k.foldKey}" -> k
  }.toMap

  /** Validates the command line before any Spark work: a malformed line
    * or an unknown query name is one usage error in every mode.
    */
  private[graft] def parse(args: Seq[String]): Either[String, Req] = {
    val cold = args.contains("--cold")
    val req = args.filterNot(_ == "--cold") match {
      case Seq("plan", qs, out, sfx, dir) =>
        Some(Req("plan", qs.split(',').map(_.trim).filter(_.nonEmpty).toSeq,
          dir, outDir = out, suffix = sfx))
      case Seq(m @ ("time" | "stream"), q, dir, rest @ _*)
          if rest.size <= 1 && rest.forall(_.toIntOption.exists(_ >= 1)) =>
        Some(Req(m, Seq(q), dir,
          rest.headOption.fold(if (m == "time") 3 else 1)(_.toInt)))
      case Seq(m @ ("stages" | "aqe"), q, dir) => Some(Req(m, Seq(q), dir))
      case _ => None
    }
    req.filter(r => r.names.nonEmpty && (!cold || r.mode == "time")) match {
      case None => Left(Usage)
      case Some(r) =>
        val known = SparkEntry.queries.keySet ++
          (if (r.mode == "plan") edgeKinds.keySet else Set.empty)
        r.names.filterNot(known) match {
          case Seq() => Right(r.copy(cold = cold))
          case unknown =>
            Left(s"unknown query ${unknown.mkString(", ")}\n$Usage")
        }
    }
  }

  def main(args: Array[String]): Unit = parse(args.toSeq) match {
    case Left(err) => System.err.println(err); sys.exit(2)
    case Right(req) =>
      val spark = Engine.session(s"probe-${req.mode}")
      try run(spark, req, println) finally spark.stop()
  }

  /** Runs one parsed request on `spark`, writing its report lines to
    * `out`; the listeners it adds are removed before it returns.
    */
  private[graft] def run(spark: SparkSession, req: Req,
                         out: String => Unit): Unit = {
    val sc = spark.sparkContext
    val metrics = MetricListener.install(sc)
    val name = req.names.head
    def frame(): DataFrame = SparkEntry.queries(name)(spark, req.dir)
    def drain(): Unit = BusFlush.flush(sc)
    def rep(body: => Unit): Rep = {
      drain()
      val (j0, c0, g0) = (metrics.jobs.get(), metrics.cpuNs.get(),
        Bench.gcMsTotal())
      val t0 = System.nanoTime()
      body
      val wall = (System.nanoTime() - t0) / 1e9
      spark.catalog.clearCache()
      drain()
      Rep(wall, metrics.jobs.get() - j0, (metrics.cpuNs.get() - c0) / 1e9,
        Bench.gcMsTotal() - g0)
    }
    def warmUp(): Unit = {
      try frame().count()
      catch { case NonFatal(e) => System.err.println(s"warm-up failed: $e") }
      spark.catalog.clearCache()
    }
    try req.mode match {
      case "time" =>
        warmUp()
        val reps = (1 to req.reps).map { _ =>
          if (req.cold) Dedup.clearLpEdgeCache()
          val r = rep(frame().count())
          System.err.println(s"rep: $r")
          r
        }
        out(s"TIMEONE $name${if (req.cold) " [lp-cold]" else ""}: " +
          reps.mkString(" "))
      case "stages" =>
        val stages = new StageLines
        warmUp()
        drain()
        sc.addSparkListener(stages)
        try {
          val r = rep(frame().count())
          stages.rows.asScala.foreach(out)
          out(s"STAGES $name: $r")
        } finally sc.removeSparkListener(stages)
      case "aqe" =>
        warmUp()
        Seq("on" -> "true", "off" -> "false").foreach { case (label, v) =>
          Engine.withConf(spark, "spark.sql.adaptive.enabled" -> v) {
            (1 to 2).foreach { i =>
              out(s"AQE $name $label r$i: ${rep(frame().count())}")
            }
          }
        }
      case "stream" =>
        val batches = new BatchLines(out)
        warmUp()
        drain()
        spark.streams.addListener(batches)
        try {
          (1 to req.reps).foreach { i =>
            out(s"STREAM $name r$i: ${rep(frame().count())}")
          }
        } finally spark.streams.removeListener(batches)
      case "plan" =>
        new java.io.File(req.outDir).mkdirs()
        req.names.foreach { q =>
          val path = s"${req.outDir}/${q.replace(':', '_')}_${req.suffix}.txt"
          Files.writeString(Paths.get(path), planText(spark, q, req.dir))
          spark.catalog.clearCache()
          out(s"PLAN $q: $path")
        }
    } finally sc.removeSparkListener(metrics)
  }

  /** `plan` in a run-stable form, so two runs of one commit write
    * byte-identical dumps: the process id of scratch store paths, the
    * store table names (they hash those paths), exchange plan ids and
    * JVM identity hashes are written as fixed tokens. Expression ids
    * stay.
    */
  private[graft] def runStable(plan: String): String =
    plan.replaceAll(s"_p${ProcessHandle.current().pid()}\\b", "_pP")
      .replaceAll("graft_(bkt|chn)_[0-9a-f]{16}", "graft_$1_H")
      .replaceAll("plan_id=[0-9]+", "plan_id=N")
      .replaceAll("([\\w$])@[0-9a-f]+\\b", "$1@H")

  private def planText(spark: SparkSession, q: String, dir: String): String =
    runStable(try edgeKinds.get(q) match {
      case Some(k) =>
        Engine.withConf(spark, "spark.sql.autoBroadcastJoinThreshold" -> "-1")(
          Dedup.withAqeOff(spark)(
            BandedStore.edgeFrame(k, spark, dir, BandedStore.ensure(k, spark, dir))
              ._2.queryExecution.explainString(FormattedMode)))
      case None =>
        SparkEntry.queries(q)(spark, dir).queryExecution
          .explainString(FormattedMode)
    } catch { case NonFatal(e) =>
      s"PLAN FAILED: ${e.getClass.getName}: ${e.getMessage}"
    })

  /** One row per completed stage from the metrics Spark aggregates over
    * its tasks: executor CPU (run + deserialize, as [[MetricListener]]
    * counts it), shuffle write, wall, and the LP round counts it moved.
    */
  private final class StageLines extends SparkListener {
    val rows = new java.util.concurrent.ConcurrentLinkedQueue[String]
    override def onStageCompleted(sc: SparkListenerStageCompleted): Unit = {
      val info = sc.stageInfo
      val tm = info.taskMetrics
      val wall = (for (s <- info.submissionTime; c <- info.completionTime)
        yield (c - s) / 1e3).getOrElse(0.0)
      val lpRounds = info.accumulables.values.toSeq
        .collect { case a if a.name.exists(_.contains("-lp-changed-")) =>
          s" ${a.name.get}=${a.value.getOrElse("")}" }
        .sorted.mkString
      rows.add(f"stage ${info.stageId}%4d tasks ${info.numTasks}%4d cpu " +
        f"${(tm.executorCpuTime + tm.executorDeserializeCpuTime) / 1e9}%7.2fs " +
        f"shufW ${tm.shuffleWriteMetrics.bytesWritten / 1e6}%8.2fMB " +
        f"wall $wall%6.2fs  ${info.name.takeWhile(_ != '\n').take(90)}$lpRounds")
      ()
    }
  }

  /** Per-micro-batch `durationMs` parts (triggerExecution = the whole
    * batch; addBatch = the data plane; queryPlanning / walCommit /
    * commitOffsets / latestOffset = the per-batch control-plane floor)
    * and state-store commit times.
    */
  private final class BatchLines(out: String => Unit)
      extends StreamingQueryListener {
    import StreamingQueryListener._
    override def onQueryStarted(e: QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: QueryProgressEvent): Unit = {
      val p = e.progress
      val d = p.durationMs.asScala.toSeq.sortBy(-_._2)
        .map { case (k, v) => s"$k=$v" }.mkString(" ")
      val st = p.stateOperators.map(o =>
        s"${o.operatorName}:commit=${o.commitTimeMs}ms rows=${o.numRowsTotal}")
        .mkString(" ")
      out(f"batch ${p.batchId}%3d rows ${p.numInputRows}%6d  $d  $st")
    }
  }
}
