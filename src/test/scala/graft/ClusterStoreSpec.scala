package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.operators.{BandedStore, StoreFiles, StoreKind}

/** The persistent cluster store (BandedStore.build/fold, cluster kind):
  * the fold's contract is that it folds a new batch into the STORED
  * clustering reading only the store (assignment + sigs + band index)
  * and the NEW docs' text, and that the result is bit-identical to
  * batch re-clustering of the full corpus.
  */
class ClusterStoreSpec extends AnyFunSuite {

  private val spark = SparkSessionHelper.spark
  private val dir = "/root/testdata/sf0.001"

  private def clusters(df: org.apache.spark.sql.DataFrame): Map[Long, Long] =
    df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

  test("dd_cluster_fold_stored equals dd_cluster on sf0.001") {
    val folded = clusters(
      SparkEntry.queries("dd_cluster_fold_stored")(spark, dir))
    val batch = clusters(SparkEntry.queries("dd_cluster")(spark, dir))
    assert(folded == batch)
  }

  test("fold over a doctored corpus (old text destroyed after the " +
       "build) still bit-matches batch re-clustering of the original " +
       "— the fold provably never re-reads old documents' text") {
    val store = java.nio.file.Files
      .createTempDirectory("graft_cstore_spec").toString
    BandedStore.build(StoreKind.Cluster, spark, dir, store)
    // doctor: every OLD doc's text becomes per-doc garbage (unique, so
    // an accidental re-read cannot luck into the original clustering);
    // new docs keep their real text — the fold legitimately needs it
    val doctored = java.nio.file.Files
      .createTempDirectory("graft_cstore_doc").toString
    spark.read.parquet(s"$dir/documents.parquet")
      .withColumn("text",
        when(expr("cast(substring(source, 4) as int) < 10"),
          concat(lit("DESTROYED AFTER BUILD "), col("doc_id")))
          .otherwise(col("text")))
      .write.mode("overwrite").parquet(s"$doctored/documents.parquet")
    val folded = clusters(
      BandedStore.fold(StoreKind.Cluster, spark, doctored, store))
    val batch = clusters(SparkEntry.queries("dd_cluster")(spark, dir))
    assert(folded == batch,
      "fold over the doctored corpus diverged from batch re-clustering " +
        "of the original — the fold read old documents' text")
  }

  test("three-generation fold chain — each increment folded into an " +
       "immutable next-generation store, each batch's text destroyed " +
       "as soon as its generation lands — equals batch re-clustering") {
    val real = spark.read.parquet(s"$dir/documents.parquet")
    // corpus dir where the docs matching `preds` have garbage text
    def doctored(preds: String*): String = {
      val d = java.nio.file.Files
        .createTempDirectory("graft_cstore_gen").toString
      real.withColumn("text",
        when(expr(preds.map(p => s"($p)").mkString(" OR ")),
          concat(lit("DESTROYED "), col("doc_id")))
          .otherwise(col("text")))
        .write.mode("overwrite").parquet(s"$d/documents.parquet")
      d
    }
    val m0 = "doc_id % 3 = 0"
    val m1 = "doc_id % 3 = 1"
    val m2 = "doc_id % 3 = 2"
    val g1 = java.nio.file.Files
      .createTempDirectory("graft_cstore_g1").toString
    BandedStore.build(StoreKind.Cluster, spark, dir, g1, m0)
    val g2 = java.nio.file.Files
      .createTempDirectory("graft_cstore_g2").toString
    BandedStore.foldInto(StoreKind.Cluster, spark, doctored(m0), g1, m1, g2)
    val g3 = java.nio.file.Files
      .createTempDirectory("graft_cstore_g3").toString
    BandedStore.foldInto(StoreKind.Cluster, spark, doctored(m0, m1), g2, m2, g3)
    val got = clusters(
      spark.read.parquet(s"$g3/assignment").orderBy("doc_id"))
    val batch = clusters(SparkEntry.queries("dd_cluster")(spark, dir))
    assert(got == batch,
      "the generation-3 assignment diverged from batch re-clustering " +
        "— either a fold read destroyed text or the contraction is " +
        "not associative across generations")
  }

  test("a half-written store (manifest missing) reads as absent — " +
       "manifest.json is the exists() marker and lands last") {
    val store = java.nio.file.Files
      .createTempDirectory("graft_cstore_half").toString
    BandedStore.build(StoreKind.Cluster, spark, dir, store)
    assert(StoreFiles.exists(store))
    java.nio.file.Files.delete(
      java.nio.file.Paths.get(store, "manifest.json"))
    assert(!StoreFiles.exists(store),
      "a store without its manifest must not be accepted as complete")
  }
}
