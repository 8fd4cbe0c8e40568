package graft

import java.nio.file.{Files, Paths}

/** Dev helper (r21): dump `.explain("formatted")` of named queries to
  * files — the before/after plan evidence the optimization rounds
  * commit under plans/rNN/.
  * Usage: runMain graft.PlanDump <q1,q2,...> <outDir> <suffix> [sfDir]
  * writes <outDir>/<query>_<suffix>.txt per query.
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val names = args(0).split(',').map(_.trim).filter(_.nonEmpty)
    val outDir = args(1)
    val suffix = args(2)
    val dir = if (args.length > 3) args(3) else "/root/testdata/sf0.1"
    val spark = Engine.session("plan-dump")
    new java.io.File(outDir).mkdirs()
    // "edge:<fold key>" (dd_cluster_fold_stored,
    // dd_embed_cluster_fold_stored — the store kinds that keep an LP
    // assignment) dumps the fold's VERIFIED-EDGE frame (the plan the
    // fold checkpoints — the returned query plan is the post-merge
    // assignment and does not show the probe/verify shape) under
    // PlanSpec's at-scale audit conf: broadcast disabled + AQE off, so
    // the dump shows the join strategies a 100 TB store would get, not
    // the fixture-size broadcasts.
    def edgeFrame(q: String): org.apache.spark.sql.DataFrame = {
      import graft.operators.{Banded, BandedStore, StoreKind}
      StoreKind.all.collectFirst {
        case k: Banded if k.verify.isDefined && k.foldKey == q => k
      } match {
        case Some(k) =>
          BandedStore.edgeFrame(k, spark, dir,
            BandedStore.ensure(k, spark, dir))._2
        case None => sys.error(s"no edge-frame dump wired for $q")
      }
    }
    names.foreach { name =>
      val text =
        try {
          if (name.startsWith("edge:")) {
            Engine.withConf(spark,
                "spark.sql.autoBroadcastJoinThreshold" -> "-1")(
              graft.operators.Dedup.withAqeOff(spark)(
                edgeFrame(name.stripPrefix("edge:")).queryExecution
                  .explainString(org.apache.spark.sql.execution.FormattedMode)))
          } else {
            val df = SparkEntry.queries(name)(spark, dir)
            df.queryExecution.explainString(
              org.apache.spark.sql.execution.FormattedMode)
          }
        } catch { case e: Throwable =>
          s"PLAN FAILED: ${e.getClass.getName}: ${e.getMessage}"
        }
      Files.writeString(Paths.get(
        s"$outDir/${name.replace(':', '_')}_$suffix.txt"), text)
      spark.catalog.clearCache()
    }
    spark.stop()
  }
}
