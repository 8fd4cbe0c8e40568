package graft.run

import org.apache.spark.sql.SparkSession
import graft.Engine

/** Fold write-amplification probe for the four persistent store
  * kinds: build gen-0 from a third of the corpus, `advance` two more
  * thirds as generations through the pointer discipline, and report
  * BYTES WRITTEN per generation against the batch's row count — the
  * number that decides a deployment's fold cadence (r17 directive 6;
  * findings in BENCHING.md's write-amplification section).
  *
  * Self-contained generations (the default fold) land prior ∪
  * increment, so bytes-per-fold tracks the full store size; every
  * kind also supports `advance --delta` (r18), whose generations
  * land ONLY the batch (for cluster/embed: plus the assignment rows
  * the merge relabeled) — measured here as a second channel per
  * kind, so BENCHING.md's cadence statement compares the two shapes
  * on the same batches rather than assuming either.
  *
  *   SPARK_GRAFT_SF_DIR=/root/testdata/sf0.1 \
  *     sbt "runMain graft.run.FoldAmp"
  */
object FoldAmp {


  def main(args: Array[String]): Unit = {
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Engine.session("graft-foldamp")
    val base = new java.io.File(
      sys.props.getOrElse("java.io.tmpdir", "/tmp"),
      s"graft_foldamp_p${ProcessHandle.current().pid()}")
    graft.operators.StoreFiles.deleteTree(base)
    def fail(msg: String): Nothing = {
      System.err.println(msg)
      graft.operators.StoreFiles.deleteTree(base)
      spark.stop(); sys.exit(1)
    }
    def runOrDie(cmd: Seq[String]): Unit =
      StoreCtl.run(spark, cmd).left.foreach(e => fail(s"$cmd: $e"))
    val out = graft.operators.StoreKind.all.map { k =>
      val (kind, tbl, idCol) = (k.name, k.table, k.id)
      val root = new java.io.File(base, kind)
      root.mkdirs()
      def batchRows(third: Int): Long =
        Engine.table(spark, dir, tbl).where(s"$idCol % 3 = $third").count()
      runOrDie(Seq("build", kind, dir, s"$root/gen-0", s"$idCol % 3 = 0"))
      runOrDie(Seq("flip", root.toString, "gen-0"))
      runOrDie(Seq("advance", kind, dir, root.toString, s"$idCol % 3 = 1"))
      runOrDie(Seq("advance", kind, dir, root.toString, s"$idCol % 3 = 2"))
      val gens = (0 to 2).map(g => graft.operators.StoreFiles.treeBytes(new java.io.File(root, s"gen-$g")))
      val rows = (0 to 2).map(g => batchRows(g))
      // the delta channel (runs for EVERY kind — cluster and embed
      // delta their changed-rows assignment, phash/ivfpq their
      // increment's sigs/codes): same batches through
      // `advance --delta` — generation bytes should be ∝ batch
      val delta =
        {
          val droot = new java.io.File(base, s"${kind}_delta")
          droot.mkdirs()
          runOrDie(Seq("build", kind, dir, s"$droot/gen-0",
            s"$idCol % 3 = 0"))
          runOrDie(Seq("flip", droot.toString, "gen-0"))
          runOrDie(Seq("advance", "--delta", kind, dir, droot.toString,
            s"$idCol % 3 = 1"))
          runOrDie(Seq("advance", "--delta", kind, dir, droot.toString,
            s"$idCol % 3 = 2"))
          val dgens = (0 to 2).map(g =>
            graft.operators.StoreFiles.treeBytes(new java.io.File(droot, s"gen-$g")))
          s""","delta_gen_bytes":${dgens.mkString("[", ",", "]")},""" +
            s""""delta_fold1_amp":${
              "%.2f".format(dgens(1).toDouble / dgens(0))},""" +
            s""""delta_fold2_amp":${
              "%.2f".format(dgens(2).toDouble / dgens(0))}"""
        }
      s""""$kind":{"batch_rows":${rows.mkString("[", ",", "]")},""" +
        s""""gen_bytes":${gens.mkString("[", ",", "]")},""" +
        s""""fold1_amp":${"%.2f".format(gens(1).toDouble / gens(0))},""" +
        s""""fold2_amp":${"%.2f".format(gens(2).toDouble / gens(0))}""" +
        delta + "}"
    }
    println(out.mkString("{\"sf_dir\":\"" + dir + "\",", ",", "}"))
    graft.operators.StoreFiles.deleteTree(base)
    spark.stop()
  }
}
