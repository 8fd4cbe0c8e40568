package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.operators._

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * `queries` is the union of the engine's operator packs; every key with a
  * DuckDB oracle in `oracleSql` is hash-verified by the driver at sf0.01,
  * the rest get a rows-only check.
  */
object SparkEntry {

  private def packs: Seq[QueryPack] = Seq(
    Relational,
    TextAnalysis,
    Dedup,
    Similarity,
    Multimodal,
    JiraEtl,
    EventWindows,
    graft.streaming.StreamReplay,
    graft.sources.ShardIo
  )

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    queries("q04_multiway_join")(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. Each entry
    * attaches the graft functions to the caller's session first
    * ([[GraftExtensions.attach]]), so a session the library did not
    * build (a caller's own session, a `newSession()`) resolves them too.
    */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    packs.flatMap(_.queries).toMap.map { case (name, q) =>
      name -> { (s: SparkSession, dir: String) =>
        GraftExtensions.attach(s); q(s, dir)
      }
    }

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops.
    */
  def oracleSql: Map[String, String] =
    packs.flatMap(_.oracles).toMap
}
