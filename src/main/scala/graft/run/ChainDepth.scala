package graft.run

import org.apache.spark.sql.SparkSession
import graft.Engine
import graft.operators.{StoreFiles, StoreKind}

/** Delta-chain serve-cost probe: how much does READING a store
  * degrade as its `advance --delta` chain deepens? The write side is
  * FoldAmp's flat-amp win; this measures what that win costs the
  * readers — the number that decides the compact cadence and the
  * [[StoreCtl.ChainWarnKey]] defaults (r18 verdict item 1; findings
  * in BENCHING.md's chain-depth section).
  *
  * Per kind: build gen-0 from batch 0 of `depth` equal hash batches,
  * then `advance --delta` the rest, timing the kind's REAL serve
  * read at checkpoint depths (1, 6, 12, `depth`): a count of each
  * relation the kind table lists as `served`, resolved the way
  * readers resolve it (`StoreKind.readChain` — the assignment's
  * last-writer-wins min-by-depth agg, grp, the plain chain unions).
  *
  * Each timing is min-of-2 on a warm session (the chain cost is
  * driver planning + k-way-union scan; caching would hide exactly
  * what we measure). The final row times `compact` sealing the whole
  * chain, and re-times the serve read at depth 1 after it — the
  * before/after a nightly compact buys.
  *
  *   SPARK_GRAFT_SF_DIR=/root/testdata/sf0.01 \
  *     sbt "runMain graft.run.ChainDepth [depth]"
  */
object ChainDepth {

  private def timeMin2(body: => Long): (Double, Long) = {
    def once(): (Double, Long) = {
      val t0 = System.nanoTime()
      val n = body
      ((System.nanoTime() - t0) / 1e9, n)
    }
    val a = once(); val b = once()
    (math.min(a._1, b._1), b._2)
  }

  def main(args: Array[String]): Unit = {
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR",
      "/root/testdata/sf0.01")
    val depth = args.headOption.map(_.toInt).getOrElse(24)
    val marks = Seq(1, 6, 12, depth).distinct.filter(_ <= depth).sorted
    val spark = Engine.session("graft-chaindepth")
    val base = new java.io.File(
      sys.props.getOrElse("java.io.tmpdir", "/tmp"),
      s"graft_chaindepth_p${ProcessHandle.current().pid()}")
    graft.operators.StoreFiles.deleteTree(base)
    def fail(msg: String): Nothing = {
      System.err.println(msg)
      // a failed probe must not strand its multi-GB scratch tree: the
      // next run's pid-suffixed path is a DIFFERENT dir, so nothing
      // else ever cleans this one
      graft.operators.StoreFiles.deleteTree(base)
      spark.stop(); sys.exit(1)
    }
    def runOrDie(cmd: Seq[String]): Unit =
      StoreCtl.run(spark, cmd).left.foreach(e => fail(s"$cmd: $e"))
    // the guard exists to stop exactly the chains this probe builds
    spark.conf.set(StoreCtl.ChainWarnKey, (depth + 1).toString)
    spark.conf.set(StoreCtl.ChainMaxKey, (depth + 1).toString)

    def serveRead(k: StoreKind, root: String): (Double, Long) = {
      val served = StoreFiles.serve(root)
        .fold(e => fail(s"serve $root: $e"), identity)
      timeMin2 {
        k.served.map(StoreKind.readChain(spark, served, _, k.id).count()).sum
      }
    }

    val out = StoreKind.all.map { sk =>
      val (kind, idCol) = (sk.name, sk.id)
      val root = new java.io.File(base, kind)
      root.mkdirs()
      runOrDie(Seq("build", kind, dir, s"$root/gen-0",
        s"$idCol % $depth = 0"))
      runOrDie(Seq("flip", root.toString, "gen-0"))
      val readAt = scala.collection.mutable.Map[Int, (Double, Long)]()
      readAt(1) = serveRead(sk, root.toString)
      (1 until depth).foreach { k =>
        runOrDie(Seq("advance", "--delta", kind, dir, root.toString,
          s"$idCol % $depth = $k"))
        val d = k + 1
        if (marks.contains(d))
          readAt(d) = serveRead(sk, root.toString)
      }
      val tCompact = {
        val t0 = System.nanoTime()
        runOrDie(Seq("compact", kind, root.toString))
        (System.nanoTime() - t0) / 1e9
      }
      val sealedRead = serveRead(sk, root.toString)
      val reads = marks.map(d => s""""$d":${
        "%.3f".format(readAt(d)._1)}""").mkString(",")
      s""""$kind":{"serve_s_by_depth":{$reads},""" +
        s""""rows":${readAt(marks.last)._2},""" +
        s""""compact_s":${"%.3f".format(tCompact)},""" +
        s""""sealed_serve_s":${"%.3f".format(sealedRead._1)}}"""
    }
    println(s"""{"metric":"chain_depth","depth":$depth,"sf_dir":"$dir",${
      out.mkString(",")}}""")
    graft.operators.StoreFiles.deleteTree(base)
    spark.stop()
  }
}
