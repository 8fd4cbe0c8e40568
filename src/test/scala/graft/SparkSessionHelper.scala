package graft

import org.apache.spark.sql.SparkSession

/** One shared local session for the whole test JVM (Test / fork := true),
  * under the engine's static confs ([[Engine.StaticConfs]]).
  */
object SparkSessionHelper {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config(Engine.StaticConfs)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
