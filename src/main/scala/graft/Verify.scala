package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the DuckDB oracle compare
  * (tools/compare_oracle.py).
  *
  * Usage: runMain graft.Verify <sfDir> <outDir> [name,...] — the optional
  * comma-separated list dumps only those queries (and only their oracles),
  * so tools/compare_oracle.py can gate a subset while iterating.
  */
object Verify {
  def main(args: Array[String]): Unit = {
    val Seq(sfDir, outDir, names @ _*) = args.toSeq
    require(names.size <= 1, "usage: graft.Verify <sfDir> <outDir> [name,...]")
    val only = names.headOption.map(_.split(',').map(_.trim).toSet)
    only.map(_ -- SparkEntry.queries.keySet).filter(_.nonEmpty).foreach {
      unknown => sys.error(s"unknown query ${unknown.mkString(", ")}")
    }
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    dump(spark, sfDir, outDir, only)
    spark.stop()
  }

  /** Dump every query (or those in `only`) under `outDir`, plus their
    * oracles as `outDir/oracle_sql.json`.
    */
  private[graft] def dump(spark: SparkSession, sfDir: String, outDir: String,
                          only: Option[Set[String]]): Unit = {
    val keep = (name: String) => only.forall(_(name))
    new java.io.File(outDir).mkdirs()
    SparkEntry.queries.filter(kv => keep(kv._1)).foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
      // per-query cached intermediates (pair projections, signature
      // relations) must not accumulate across the 60+-query session
      spark.catalog.clearCache()
    }
    writeOracleSql(outDir, SparkEntry.oracleSql.filter(kv => keep(kv._1)))
  }

  /** Write `oracles` as `outDir/oracle_sql.json`. The string escape
    * covers backslash, quote, and ALL control chars (<0x20) — a tab or
    * CR in an oracle's SQL would otherwise make the reader's json.load
    * (tools/compare_oracle.py) fail and silently zero the correctness
    * check.
    */
  private[graft] def writeOracleSql(outDir: String,
                                    oracles: Map[String, String]): Unit = {
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = oracles
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
  }
}
