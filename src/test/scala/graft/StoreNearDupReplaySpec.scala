package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.operators.{BandedStore, Dedup, StoreKind}

/** The streaming TEXT serve path (Streams.storeNearDupStream via the
  * st_store_neardup_replay gates): ingest documents near-dup-flagged
  * against the SERVED persistent cluster store. Driver gates hash it
  * against the independent all-pairs old-new Jaccard spec; this spec
  * pins the intra-engine invariants — disorder invariance, and exact
  * agreement with the batch fold's own old-new edge slice (stream and
  * fold probe the same store, so their verified pair sets must be
  * identical, not merely both "correct").
  */
class StoreNearDupReplaySpec extends AnyFunSuite {

  private val spark = SparkSessionHelper.spark
  private val dir = "/root/testdata/sf0.001"

  private def pairs(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
    df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet

  private def oldIds: Set[Long] =
    Engine.table(spark, dir, "documents")
      .where(Dedup.oldPred).select("doc_id")
      .collect().map(_.getLong(0)).toSet

  test("in-order and bounded-disorder replays emit the identical pair set") {
    val inOrder = pairs(
      SparkEntry.queries("st_store_neardup_replay")(spark, dir))
    val ooo = pairs(
      SparkEntry.queries("st_store_neardup_ooo_replay")(spark, dir))
    assert(inOrder == ooo)
  }

  test("the stream's pair set equals the batch fold's old-new edge " +
      "slice against the same store, expanded through the rep groups") {
    val olds = oldIds
    val store = BandedStore.ensure(StoreKind.Cluster, spark, dir)
    val streamed = pairs(
      SparkEntry.queries("st_store_neardup_replay")(spark, dir))
    // fold edges are least/greatest-normalized (old/new doc ids
    // interleave — the split is by source), REP-level on both sides
    // (the r17 collapsed layout: stored groups in grp/, the new
    // batch's groups registered as cfo_grp by the edge frame), and
    // include new-new pairs + star edges the store probe must NOT
    // emit; the old-new slice, expanded rep→members on both sides and
    // re-oriented as (new, owner=old), is what the stream must match.
    val (_, edges) = BandedStore.edgeFrame(StoreKind.Cluster,
      spark, dir, store, s"NOT (${Dedup.oldPred})")
    val edgeRows = edges.collect().map(r => (r.getLong(0), r.getLong(1)))
    val oldMembers = Dedup.storeGrp(spark, store, "member_id")
      .collect().map(r => (r.getLong(1), r.getLong(0)))
      .groupBy(_._1).view.mapValues(_.map(_._2).toSeq).toMap
    val newMembers = spark.table(BandedStore.storeView("cfo", store, "_grp"))
      .collect().map(r => (r.getLong(1), r.getLong(0)))
      .groupBy(_._1).view.mapValues(_.map(_._2).toSeq).toMap
    val foldOldNew = edgeRows.flatMap { case (a, b) =>
      (olds(a), olds(b)) match {
        case (true, false) =>
          for (o <- oldMembers(a); n <- newMembers(b)) yield (n, o)
        case (false, true) =>
          for (o <- oldMembers(b); n <- newMembers(a)) yield (n, o)
        case _ => Nil
      }
    }.toSet
    assert(streamed.nonEmpty,
      "fixture produced zero old-new matches: the agreement assert " +
        "below would be vacuous")
    assert(streamed == foldOldNew,
      s"stream flagged ${streamed.size} pairs, fold edge slice " +
        s"expands to ${foldOldNew.size}")
    streamed.foreach { case (d, o) =>
      assert(!olds(d) && olds(o),
        s"pair ($d, $o) does not cross the store's source split")
    }
  }
}
