package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.operators.{BandedStore, Dedup, StoreKind}

/** The streaming serve path (Streams.storeDedupStream via the
  * st_store_dedup_replay gates): ingest vectors deduped against the
  * SERVED persistent embed store. Driver gates hash it against the
  * DuckDB restatement; this spec pins the intra-engine invariants —
  * disorder invariance, and exact agreement with the batch fold's own
  * old-new edge slice (stream and fold probe the same store, so their
  * verified pair sets must be identical, not merely both "correct").
  */
class StoreDedupReplaySpec extends AnyFunSuite {

  private val spark = SparkSessionHelper.spark
  private val dir = "/root/testdata/sf0.001"

  private def pairs(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
    df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet

  test("in-order and bounded-disorder replays emit the identical pair set") {
    val inOrder = pairs(
      SparkEntry.queries("st_store_dedup_replay")(spark, dir))
    val ooo = pairs(
      SparkEntry.queries("st_store_dedup_ooo_replay")(spark, dir))
    assert(inOrder == ooo)
  }

  test("the stream's pair set equals the batch fold's old-new edge " +
      "slice against the same store, expanded through the rep groups") {
    val split = Dedup.embedSplit(spark, dir)
    val store = BandedStore.ensure(StoreKind.Embed, spark, dir)
    val streamed = pairs(
      SparkEntry.queries("st_store_dedup_replay")(spark, dir))
    // fold edges are (vec_a < vec_b), REP-level on both sides (the
    // r17 collapsed layout: stored groups in grp/, the new batch's in
    // the edge frame's efo_grp view); the old-new slice has
    // vec_a < split <= vec_b. Stream rows are (new, owner=old),
    // member-level after the grp fan-out — expand the fold slice the
    // same way before comparing.
    val (_, edges) = BandedStore.edgeFrame(StoreKind.Embed, spark, dir, store)
    val edgeRows = edges
      .where(s"vec_a < $split AND vec_b >= $split")
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val oldMembers = Dedup.storeGrp(spark, store, "member_id")
      .collect().map(r => (r.getLong(1), r.getLong(0)))
      .groupBy(_._1).view.mapValues(_.map(_._2).toSeq).toMap
    val newMembers = spark.table(BandedStore.storeView("efo", store, "_grp"))
      .collect().map(r => (r.getLong(1), r.getLong(0)))
      .groupBy(_._1).view.mapValues(_.map(_._2).toSeq).toMap
    val foldOldNew = edgeRows.flatMap { case (o, n) =>
      for (om <- oldMembers(o); nm <- newMembers(n)) yield (nm, om)
    }.toSet
    assert(streamed == foldOldNew,
      s"stream flagged ${streamed.size} pairs, fold edge slice " +
        s"expands to ${foldOldNew.size}")
    streamed.foreach { case (v, o) =>
      assert(v >= split && o < split,
        s"pair ($v, $o) does not cross the store split $split")
    }
  }
}
