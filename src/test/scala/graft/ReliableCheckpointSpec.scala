package graft

import org.scalatest.funsuite.AnyFunSuite

/** The fault-tolerance escape hatch for the engine's ~60 lineage-
  * truncation points (Engine.truncate): by default they
  * localCheckpoint (executor-pinned blocks, measured-optimal on
  * local[32] but unrecoverable on executor loss); with
  * `graft.checkpoint.dir` set they checkpoint RELIABLY into that
  * directory — the standard discipline for multi-hour cluster LP
  * jobs. This spec pins that the reliable path (a) is actually
  * exercised (blocks land under the dir), and (b) is semantics-free:
  * the LP cluster queries — the deepest truncation chains in the
  * engine, including the registry-shared edge frames and the
  * incremental contraction — return bit-identical rows either way.
  */
class ReliableCheckpointSpec extends AnyFunSuite {

  private val spark = SparkSessionHelper.spark
  private val dir = "/root/testdata/sf0.001"

  private def rows(name: String): Seq[Seq[Any]] =
    SparkEntry.queries(name)(spark, dir).collect().map(_.toSeq).toSeq

  test("graft.checkpoint.dir routes every truncation point through " +
      "reliable checkpoint() with bit-identical LP results") {
    val keys = Seq("dd_cluster", "dd_cluster_incremental")
    // cold baseline under the default localCheckpoint path: the
    // registry's shared frames must not leak across modes, so both
    // sides run from a cleared cache
    CorpusState.clear()
    val base = keys.map(k => k -> rows(k)).toMap
    val ckpt = java.nio.file.Files
      .createTempDirectory("graft_reliable_ckpt").toString
    spark.conf.set(Engine.CheckpointDirKey, ckpt)
    CorpusState.clear()
    try {
      keys.foreach { k =>
        assert(rows(k) == base(k),
          s"$k diverged under the reliable-checkpoint path")
      }
      // the escape hatch must have actually engaged: reliable
      // checkpoints land rdd-* block dirs under the configured path
      def anyFiles(f: java.io.File): Boolean =
        f.isFile || Option(f.listFiles()).toSeq.flatten.exists(anyFiles)
      assert(anyFiles(new java.io.File(ckpt)),
        "no checkpoint blocks landed — the conf did not engage")
    } finally {
      spark.conf.unset(Engine.CheckpointDirKey)
      // frames built under the reliable mode must not serve the
      // default mode's consumers
      CorpusState.clear()
      def rec(f: java.io.File): Unit = {
        if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.foreach(rec)
        f.delete()
      }
      rec(new java.io.File(ckpt))
    }
  }
}
