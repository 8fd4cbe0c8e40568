package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.operators.{BandedStore, Dedup, StoreKind}

/** The streaming MEDIA serve path (Streams.storePhashStream via the
  * st_store_phash_replay gates): ingest payloads near-dup-flagged
  * against the SERVED persistent phash store. Driver gates hash it
  * against the independent all-pairs old-new Hamming spec; this spec
  * pins the intra-engine invariants — disorder invariance, and exact
  * agreement with the batch pair query's own old-new slice (stream
  * and batch band the same signatures, and the 4x16 pigeonhole makes
  * banded = all-pairs a theorem, so the agreement must be exact).
  */
class StorePhashReplaySpec extends AnyFunSuite {

  private val spark = SparkSessionHelper.spark
  private val dir = "/root/testdata/sf0.001"

  private def pairs(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
    df.select("doc_id", "owner_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet

  test("in-order and bounded-disorder replays emit the identical pair " +
      "set, equal to the batch pair query's old-new slice") {
    BandedStore.ensure(StoreKind.Phash, spark, dir)
    val olds = Engine.table(spark, dir, "documents")
      .where(Dedup.oldPred).select("doc_id")
      .collect().map(_.getLong(0)).toSet
    val streamed = pairs(
      SparkEntry.queries("st_store_phash_replay")(spark, dir))
    val ooo = pairs(
      SparkEntry.queries("st_store_phash_ooo_replay")(spark, dir))
    assert(streamed == ooo)
    // batch pairs are (doc_a < doc_b, hamming); the old-new slice
    // re-oriented as (new, owner=old) is what the stream must match
    val batchOldNew = SparkEntry.queries("mm_phash_pairs")(spark, dir)
      .select("doc_a", "doc_b")
      .collect().map(r => (r.getLong(0), r.getLong(1)))
      .flatMap { case (a, b) =>
        (olds(a), olds(b)) match {
          case (true, false) => Some((b, a))
          case (false, true) => Some((a, b))
          case _             => None
        }
      }.toSet
    assert(streamed.nonEmpty,
      "fixture produced zero old-new phash matches: the agreement " +
        "assert would be vacuous")
    assert(streamed == batchOldNew,
      s"stream flagged ${streamed.size} pairs, batch old-new slice " +
        s"has ${batchOldNew.size}")
    streamed.foreach { case (d, o) =>
      assert(!olds(d) && olds(o),
        s"pair ($d, $o) does not cross the store's source split")
    }
  }

  test("a two-batch fold chain lands on the one-shot fold's store, " +
      "and gen-0 is immutable") {
    // The repeated-ingest pattern: batches land as successive
    // immutable generations (signatures are row-local, so chaining
    // must equal one big fold). Split the new half by doc_id parity —
    // orthogonal to the source split — to make the two batches
    // non-contiguous. Comparison is at MEMBER level (grp ⨝ sigs/bands
    // — the serve semantics): the rep-collapsed layout picks reps per
    // BATCH, so a group spanning the parity split (the sub-64-byte
    // docs all share phash 0) legitimately carries different rep rows
    // down the two fold paths.
    def sigSet(store: String): Set[(Long, Long)] =
      Dedup.storeGrp(spark, store, "doc_id")
        .join(spark.read.parquet(s"$store/sigs").toDF("rep", "phash"),
          Seq("rep"))
        .select("doc_id", "phash")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    def bandSet(store: String): Set[(Long, Long, Long)] =
      Dedup.storeGrp(spark, store, "doc_id")
        .join(spark.read.parquet(s"$store/bands")
          .toDF("rep", "band", "bv"), Seq("rep"))
        .selectExpr("doc_id", "cast(band as bigint)", "bv")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
        .toSet
    val store = BandedStore.ensure(StoreKind.Phash, spark, dir)
    val gen0Sigs = sigSet(store)
    val newPred = s"NOT (${Dedup.oldPred})"
    val g1 = store + "_chain_g1"
    val g2 = store + "_chain_g2"
    val one = store + "_chain_oneshot"
    def deleteRec(f: java.io.File): Unit = {
      if (f.isDirectory) f.listFiles().foreach(deleteRec)
      f.delete()
    }
    Seq(g1, g2, one).foreach(p => deleteRec(new java.io.File(p)))
    BandedStore.foldInto(StoreKind.Phash, spark, dir, store,
      s"$newPred AND doc_id % 2 = 0", g1)
    BandedStore.foldInto(StoreKind.Phash, spark, dir, g1,
      s"$newPred AND doc_id % 2 = 1", g2)
    BandedStore.foldInto(StoreKind.Phash, spark, dir, store, newPred, one)
    assert(sigSet(g2) == sigSet(one))
    assert(bandSet(g2) == bandSet(one))
    assert(sigSet(g2).size > gen0Sigs.size,
      "fold added nothing: the chain assert is vacuous")
    assert(sigSet(store) == gen0Sigs, "gen-0 mutated by the fold")
  }

  test("mm_phash_store serves the loaded old-half signature table") {
    val served = SparkEntry.queries("mm_phash_store")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val inSession = SparkEntry.queries("mm_phash")(spark, dir)
      .where(Dedup.oldPred).select("doc_id", "phash")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(served.nonEmpty)
    assert(served == inSession)
  }

  test("mm_phash_fold_stored recomputed from the folded generation " +
      "equals the batch full-corpus pair table") {
    def rows(df: org.apache.spark.sql.DataFrame): Set[(Long, Long, Int)] =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val folded = rows(SparkEntry.queries("mm_phash_fold_stored")(spark, dir))
    val batch = rows(SparkEntry.queries("mm_phash_pairs")(spark, dir))
    assert(folded.nonEmpty,
      "fixture produced zero phash pairs: the agreement assert is vacuous")
    assert(folded == batch)
    // the fold closes the streaming gates' blind spot: it must carry
    // at least one pair strictly WITHIN the folded-in new half
    val olds = Engine.table(spark, dir, "documents")
      .where(Dedup.oldPred).select("doc_id")
      .collect().map(_.getLong(0)).toSet
    assert(folded.exists { case (a, b, _) => !olds(a) && !olds(b) },
      "no new-new pair in the fixture: the fold gate adds nothing " +
        "over st_store_phash_replay")
  }
}
