package graft.run

import graft.Engine
import graft.etl.{JiraTransform, JsonlSink}

/** EP2 parity entry point (`python main.py --transform`, `main.py:98-192`):
  * a deterministic pure function of the raw zone -> processed JSONL corpus.
  *
  * Usage: runMain graft.run.TransformCli <rawGlob> <outDir> [--corpus]
  *
  * Default mode writes the reference's exact single-file-per-project layout
  * (`{PROJ}_issues.jsonl`); `--corpus` writes the scalable partitioned
  * layout instead (the 100 TB path).
  */
object TransformCli {
  def main(args: Array[String]): Unit = {
    require(args.length >= 2,
      "usage: TransformCli <rawGlob> <outDir> [--corpus]")
    val rawGlob = args(0)
    val outDir = args(1)
    val corpusMode = args.contains("--corpus")

    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS",
      Runtime.getRuntime.availableProcessors().toString)
    val spark = Engine.session("graft-transform", cpus)

    val records = JiraTransform.transform(
      JiraTransform.readRawPages(spark, rawGlob))

    if (corpusMode) {
      JsonlSink.writeCorpus(records, outDir)
      println(s"[transform] corpus written to $outDir")
    } else {
      val counts = JsonlSink.writeGoldenJsonl(records, outDir)
      counts.toSeq.sortBy(_._1).foreach { case (p, n) =>
        println(s"[transform] $p: $n records -> $outDir/${p}_issues.jsonl")
      }
    }
    JiraTransform.stats(records).orderBy("project").show(false)
    spark.stop()
  }
}
