package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.operators.{BandedStore, StoreKind}

/** The persistent EMBED cluster store (BandedStore.build/fold,
  * embed kind): the fold folds a new vector batch into the STORED
  * semantic clustering reading only the store (assignment + vecs +
  * band index) and the NEW vectors, bit-identical to batch banded
  * re-clustering of the full corpus.
  */
class EmbedClusterStoreSpec extends AnyFunSuite {

  private val spark = SparkSessionHelper.spark
  private val dir = "/root/testdata/sf0.001"

  private def clusters(df: org.apache.spark.sql.DataFrame): Map[Long, Long] =
    df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

  test("dd_embed_cluster_fold_stored equals dd_embed_cluster on sf0.001") {
    val folded = clusters(
      SparkEntry.queries("dd_embed_cluster_fold_stored")(spark, dir))
    val batch = clusters(SparkEntry.queries("dd_embed_cluster")(spark, dir))
    assert(folded == batch)
  }

  test("fold over a doctored corpus (old embeddings ZEROED after the " +
      "build) still bit-matches batch re-clustering of the original — " +
      "the fold provably never re-reads old vectors from the corpus") {
    val store = java.nio.file.Files
      .createTempDirectory("graft_estore_spec").toString
    BandedStore.build(StoreKind.Embed, spark, dir, store)
    // doctor: every OLD vector becomes the zero vector — if the fold
    // re-read the corpus old half, zero vectors band nowhere (the
    // zero-norm guard) so every old-new edge would vanish and the
    // clustering would collapse to near-singletons
    val real = spark.read.parquet(s"$dir/embeddings.parquet")
    val split = real.agg(max("vec_id")).head.getLong(0) / 2 + 1
    val doctored = java.nio.file.Files
      .createTempDirectory("graft_estore_doc").toString
    real
      .withColumn("embedding",
        when(col("vec_id") < split,
          expr("transform(embedding, x -> float(0.0))"))
          .otherwise(col("embedding")))
      .write.mode("overwrite").parquet(s"$doctored/embeddings.parquet")
    val folded = clusters(
      BandedStore.fold(StoreKind.Embed, spark, doctored, store))
    val batch = clusters(SparkEntry.queries("dd_embed_cluster")(spark, dir))
    assert(folded == batch,
      "fold over the doctored corpus diverged from batch re-clustering " +
        "of the original — the fold read old vectors from the corpus")
  }

  test("a fold can MERGE two stored clusters through a new vector " +
      "(contracted LP, not assign-only)") {
    // Build a corpus where old vectors 0 and 1 are dissimilar (no
    // edge at build time: orthogonal) but the new vector 3 is close
    // to BOTH (cos >= 0.4 via 45-degree placement) — the fold must
    // merge the two old singleton clusters into one component.
    val d = java.nio.file.Files
      .createTempDirectory("graft_estore_merge").toString
    val dim = 8
    def vec(axis1: Int, axis2: Int = -1): Seq[Float] =
      (0 until dim).map(i =>
        if (i == axis1 || i == axis2) 1.0f else 0.0f)
    // split = max(vec_id)/2 + 1 = 3, so old = {0, 1, 2}, new = {4}.
    // Axes 0 and 4 chosen because the DETERMINISTIC plane family
    // buckets e0+e4 with both e0 and e4 (checked against the weight
    // formula ((j+1)*2654435761 + 40503*i) mod 97 - 48) while e0/e4
    // themselves share no band — the axis pair matters, not just the
    // 45-degree cosine.
    spark.createDataFrame(Seq(
        (0L, vec(0), 0),          // old: e0
        (1L, vec(4), 0),          // old: e4 (orthogonal to e0)
        (2L, vec(2), 0),          // old: e2 (orthogonal to both)
        (4L, vec(0, 4), 0)))      // new: e0+e4 — cos ~0.707 to both
      .toDF("vec_id", "embedding", "label")
      .write.mode("overwrite").parquet(s"$d/embeddings.parquet")
    val store = java.nio.file.Files
      .createTempDirectory("graft_estore_mstore").toString
    BandedStore.build(StoreKind.Embed, spark, d, store)
    val built = clusters(
      spark.read.parquet(s"$store/assignment"))
    assert(built == Map(0L -> 0L, 1L -> 1L, 2L -> 2L),
      s"build must cluster the old half {0, 1, 2} as singletons: $built")
    val folded = clusters(BandedStore.fold(StoreKind.Embed, spark, d, store))
    // banding recall note: the 0-4 and 1-4 edges survive only if
    // banding buckets them together; with cos ~0.707 over 12 bands x
    // 5 bits that holds on this construction — assert the MERGE
    // outcome so a plane-family change that breaks it fails loudly
    // here, not in a driver hash mismatch
    assert(folded(0L) == folded(1L) && folded(4L) == folded(0L),
      s"new bridge vector must merge the two stored clusters: $folded")
    assert(folded(2L) == 2L, s"unrelated old vector must stay put: $folded")
  }

  test("three-generation fold chain — each vector batch folded into an " +
      "immutable next-generation store, each batch's vectors ZEROED as " +
      "soon as its generation lands — equals batch re-clustering") {
    val real = spark.read.parquet(s"$dir/embeddings.parquet")
    // corpus dir where the vectors matching `zeroPred` are zeroed
    def doctored(zeroPred: String): String = {
      val d = java.nio.file.Files
        .createTempDirectory("graft_estore_gen").toString
      real.withColumn("embedding",
          when(expr(zeroPred),
            expr("transform(embedding, x -> float(0.0))"))
            .otherwise(col("embedding")))
        .write.mode("overwrite").parquet(s"$d/embeddings.parquet")
      d
    }
    def tmp(p: String): String =
      java.nio.file.Files.createTempDirectory(p).toString
    val g0 = tmp("graft_estore_g0")
    BandedStore.build(StoreKind.Embed, spark, dir, g0, "vec_id < 167")
    val g1 = tmp("graft_estore_g1")
    BandedStore.foldInto(StoreKind.Embed, spark, doctored("vec_id < 167"), g0,
      "vec_id >= 167 AND vec_id < 334", g1)
    val g2 = tmp("graft_estore_g2")
    BandedStore.foldInto(StoreKind.Embed, spark, doctored("vec_id < 334"), g1,
      "vec_id >= 334", g2)
    val chained = clusters(
      spark.read.parquet(s"$g2/assignment").orderBy("vec_id"))
    val batch = clusters(SparkEntry.queries("dd_embed_cluster")(spark, dir))
    assert(chained == batch,
      "generation-chained folds diverged from batch re-clustering")
    // the prior generations were never disturbed (immutability)
    assert(spark.read.parquet(s"$g0/assignment").count() == 167L)
    assert(spark.read.parquet(s"$g1/assignment").count() == 334L)
  }
}
