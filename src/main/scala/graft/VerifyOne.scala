package graft
/** Dev helper: dump ONE SparkEntry query (plus oracle_sql.json) so
  * tools/compare_oracle.py can gate it without the full all-query run.
  * Usage: runMain graft.VerifyOne <name>[,<name>...] <sfDir> <outDir>
  */
object VerifyOne {
  def main(args: Array[String]): Unit = {
    val Array(namesArg, sfDir, outDir) = args
    val names = namesArg.split(",").toSeq
    val spark = Engine.session(s"graft-verify-$namesArg")
    new java.io.File(outDir).mkdirs()
    names.foreach { name =>
      SparkEntry.queries(name)(spark, sfDir)
        .coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name")
      spark.catalog.clearCache()
    }
    Verify.writeOracleSql(outDir,
      SparkEntry.oracleSql.filter(kv => names.contains(kv._1)))
    spark.stop()
  }
}
