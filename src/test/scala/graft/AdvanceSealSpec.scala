package graft

import java.nio.file.{Files, Paths, StandardOpenOption}

import scala.jdk.CollectionConverters._

import org.apache.spark.graftbench.BusFlush
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.execution.datasources.InsertIntoHadoopFsRelationCommand
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.util.QueryExecutionListener
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{Dedup, StoreFiles}
import graft.run.StoreCtl

/** `advance --delta --compact-at n` at the sealing depth folds the
  * batch straight into one self-contained generation: its append-only
  * relations union the stored side's bucketed scan with the increment
  * and shuffle only the increment, its jobs carry the fold's phase
  * names, and a seal that throws still lands the batch as a delta.
  */
class AdvanceSealSpec extends AnyFunSuite with AdaptiveSparkPlanHelper {

  private val spark = SparkSessionHelper.spark
  private val dir = "/root/testdata/sf0.001"

  /** A fresh root holding a cluster `gen-0` of `doc_id % 8 = 0`,
    * pointed at. */
  private def clusterRoot(name: String): String = {
    val root = new java.io.File(
      sys.props.getOrElse("java.io.tmpdir", "/tmp"),
      s"graft_seal_${name}_p${ProcessHandle.current().pid()}").toString
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(root))
    new java.io.File(root).mkdirs()
    assert(StoreCtl.run(spark, Seq("build", "cluster", dir,
      s"$root/gen-0", "doc_id % 8 = 0")).isRight)
    assert(StoreCtl.run(spark, Seq("flip", root, "gen-0")).isRight)
    root
  }

  private def sealAdvance(root: String, k: Int): Either[String, String] =
    StoreCtl.run(spark, Seq("advance", "--delta", "--compact-at", "2",
      "cluster", dir, root, s"doc_id % 8 = $k"))

  test("the sealed sigs/bands/grp writes shuffle only the increment: " +
      "no exchange above a stored-relation scan") {
    val root = clusterRoot("plan")
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[QueryExecution]
    val l = new QueryExecutionListener {
      def onSuccess(f: String, qe: QueryExecution, d: Long): Unit =
        seen.add(qe)
      def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    BusFlush.flush(spark.sparkContext)
    spark.listenerManager.register(l)
    val r =
      try sealAdvance(root, 1)
      finally {
        BusFlush.flush(spark.sparkContext)
        spark.listenerManager.unregister(l)
      }
    assert(r.exists(_.contains("[compact]")), r)
    val gen0 = Paths.get(root, "gen-0").toAbsolutePath.toString + "/"
    val writes = seen.asScala.toSeq.flatMap { qe =>
      collect(qe.executedPlan) {
        case w: DataWritingCommandExec => w.cmd
      }.collect {
        case c: InsertIntoHadoopFsRelationCommand => c.outputPath.getName -> qe
      }
    }.toMap
    def storedScans(p: org.apache.spark.sql.execution.SparkPlan) =
      collect(p) {
        case f: FileSourceScanExec if f.relation.location.rootPaths
          .exists(_.toUri.getPath.startsWith(gen0)) => f
      }
    for (rel <- Seq("sigs", "bands", "grp")) {
      val qe = writes.getOrElse(rel,
        fail(s"no $rel write seen; writes: ${writes.keys.mkString(", ")}"))
      val plan = qe.executedPlan
      val scans = storedScans(plan)
      assert(scans.nonEmpty && scans.forall(_.bucketedScan),
        s"the $rel write does not read gen-0 bucketed:\n$plan")
      val shuffled = collect(plan) { case e: ShuffleExchangeExec => e }
        .filter(storedScans(_).nonEmpty)
      assert(shuffled.isEmpty,
        s"the $rel write shuffles the stored relation:\n$plan")
    }
    // one file per bucket: the stored side stayed bucketed to the write
    for (rel <- Seq("sigs", "bands", "grp")) {
      val files = new java.io.File(s"$root/gen-1/$rel").list()
        .filter(_.endsWith(".parquet"))
      val buckets = files.map(f => f.substring(f.lastIndexOf('_')))
      assert(buckets.distinct.length == buckets.length,
        s"$rel holds several files per bucket: ${files.mkString(" ")}")
    }
  }

  test("every job of a sealing advance is named after its fold phase; " +
      "none reports a CompletableFuture call site") {
    val root = clusterRoot("names")
    val names = new java.util.concurrent.ConcurrentLinkedQueue[String]
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        e.stageInfos.foreach(si => names.add(si.name))
    }
    BusFlush.flush(spark.sparkContext)
    spark.sparkContext.addSparkListener(l)
    val r =
      try sealAdvance(root, 1)
      finally {
        BusFlush.flush(spark.sparkContext)
        spark.sparkContext.removeSparkListener(l)
      }
    assert(r.isRight, r)
    val seen = names.asScala.toSeq.distinct
    assert(seen.nonEmpty)
    assert(!seen.exists(_.contains("CompletableFuture")),
      s"unnamed stage jobs:\n${seen.mkString("\n")}")
    for (p <- Seq("sigs", "edges", "merge", "write assignment",
                  "write sigs", "write bands", "write grp", "seal"))
      assert(seen.contains(s"cluster store: $p"),
        s"no job named for phase '$p':\n${seen.mkString("\n")}")
  }

  test("a seal that throws still lands the batch as a delta, and the " +
      "advance reports the owed compact") {
    val root = clusterRoot("fallback")
    // break one data file of the parent's grp/: only the one-pass seal
    // reads it (a delta fold never reads the stored membership)
    val grp = new java.io.File(s"$root/gen-0/grp").listFiles()
      .filter(_.getName.endsWith(".parquet")).maxBy(_.length)
    val ch = Files.newByteChannel(grp.toPath, StandardOpenOption.WRITE)
    try ch.truncate(grp.length / 2) finally ch.close()
    val r = sealAdvance(root, 1)
    assert(r.isLeft, r)
    val msg = r.swap.toOption.get
    assert(msg.contains("[advance] serving") &&
      msg.contains("inline compact (--compact-at 2) FAILED after the " +
        "advance landed") && msg.contains(s"run `compact $root`"), msg)
    // the attempt's dir is marker-less litter; the delta took the
    // next name and is served at depth 2
    assert(StoreFiles.marker(s"$root/gen-1").isEmpty)
    val served = StoreFiles.serve(root).toOption.get
    assert(served.endsWith("gen-2"), served)
    assert(StoreFiles.chainPaths(served).exists(_.length == 2),
      StoreFiles.chainPaths(served))
    val ids = Dedup.storeAssignment(spark, served, "doc_id")
      .where("doc_id % 8 = 1").count()
    val batch = Engine.table(spark, dir, "documents")
      .where("doc_id % 8 = 1").count()
    assert(ids == batch && batch > 0, s"served $ids of $batch batch ids")
  }
}
