package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.operators.{BandedStore, StoreKind}

/** The empty-shingle band-side skew guard (Dedup.jacBandGuard).
  *
  * A doc with fewer than two tokens has an EMPTY word-bigram shingle
  * set, so minhash16 returns Long.MaxValue for all 16 signatures and
  * every such doc lands on the IDENTICAL (band, bk) key in all 8
  * bands — at corpus scale one bucket generating |empty|²/2 candidate
  * pairs that the exact Jaccard verify then rejects anyway (0/len or
  * 0/0-NULL, never >= 0.6). The guard drops them from the BAND side
  * only; this spec pins both halves of the claim:
  *   - effectiveness: short docs produce zero band rows (the bomb is
  *     defused at candidate generation, not absorbed downstream);
  *   - semantics-free: clustering output still carries every short
  *     doc as a singleton, the restriction to the original corpus is
  *     unchanged, and the EXACT (text-hash) dup path — which does not
  *     band — still catches identical empty docs.
  */
class ShortDocGuardSpec extends AnyFunSuite {

  private val spark = SparkSessionHelper.spark
  private val dir = "/root/testdata/sf0.001"

  /** sf0.001 documents + appended short docs: ids 10000+ with 0- and
    * 1-token texts, split across the old/new source convention so the
    * incremental operators see both halves.
    */
  private lazy val doctoredDir: String = {
    val d = java.nio.file.Files
      .createTempDirectory("graft_shortdoc").toString
    val real = spark.read.parquet(s"$dir/documents.parquet")
    val short = spark
      .createDataFrame(Seq(
        (10000L, "", "en", "src01", 0L),
        (10001L, "", "en", "src01", 0L),
        (10002L, "word", "en", "src01", 4L),
        (10010L, "", "en", "src11", 0L),
        (10011L, "word", "en", "src11", 4L)))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    real.unionByName(short)
      .write.mode("overwrite").parquet(s"$d/documents.parquet")
    d
  }

  private val shortIds = Set(10000L, 10001L, 10002L, 10010L, 10011L)

  test("short docs contribute ZERO band rows; full docs keep all 8") {
    BandedStore.sigs(StoreKind.Cluster, spark, doctoredDir)
      .createOrReplaceTempView("sdg_sigs")
    val bands = spark
      .sql(BandedStore.bandSelects(StoreKind.Cluster, "sdg_sigs"))
      .groupBy("doc_id").agg(count(lit(1)).as("n"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(shortIds.forall(id => !bands.contains(id)),
      s"guard leaked band rows for ${shortIds.filter(bands.contains)}")
    val full = bands.filterKeys(!shortIds.contains(_))
    assert(full.nonEmpty && full.values.forall(_ == 8L),
      "full docs must keep exactly 8 band rows each")
  }

  test("dd_cluster output: short docs are singletons, original " +
      "corpus clustering unchanged") {
    val doctored = SparkEntry.queries("dd_cluster")(spark, doctoredDir)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // every short doc present, each its own cluster (no edges possible)
    shortIds.foreach { id =>
      assert(doctored.get(id).contains(id),
        s"short doc $id must be its own singleton cluster")
    }
    val original = SparkEntry.queries("dd_cluster")(spark, dir)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(doctored.filterKeys(!shortIds.contains(_)).toMap == original,
      "guard changed the clustering of the original corpus")
  }

  test("mm_frames: empty payloads are OMITTED (the oracle's empty " +
      "range), never a sequence(0, -1) crash") {
    val rows = SparkEntry.queries("mm_frames")(spark, doctoredDir)
      .collect()
    // the zero-char docs contribute no frame rows; everyone else does
    assert(rows.nonEmpty)
    val ids = rows.map(_.getLong(0)).toSet
    assert(Seq(10000L, 10001L, 10010L).forall(!ids.contains(_)),
      "an empty payload has no frames to sample")
    assert(ids.contains(10002L), "1-token docs still sample frame 0")
  }

  test("dd_incremental: identical empty docs across the batch " +
      "boundary are still caught by the EXACT path (which never bands)") {
    val st = SparkEntry.queries("dd_incremental")(spark, doctoredDir)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    // new empty doc 10010 has md5("") equal to old 10000/10001
    assert(st.get(10010L).contains("exact_dup"),
      s"empty-vs-empty exact dup lost: ${st.get(10010L)}")
    // the new 1-token doc matches old 10002 exactly ("word")
    assert(st.get(10011L).contains("exact_dup"),
      s"short-vs-short exact dup lost: ${st.get(10011L)}")
  }
}
