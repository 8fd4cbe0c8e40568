package graft

import org.scalatest.funsuite.AnyFunSuite

/** The streaming replay gates are generated from one family table
  * (graft.streaming.StreamReplay): these checks pin what the table
  * must keep producing — the same 28 key names, one shared oracle per
  * in-order/_ooo pair, and the served-store rows Bench prices as
  * store builds.
  */
class ReplayTableSpec extends AnyFunSuite {

  private val replayKeys = Set(
    "st_neardup_replay", "st_neardup_ooo_replay",
    "st_store_dedup_replay", "st_store_dedup_ooo_replay",
    "st_store_neardup_replay", "st_store_neardup_ooo_replay",
    "st_decontaminate_replay", "st_decontaminate_ooo_replay",
    "st_decontaminate_semantic_replay",
    "st_decontaminate_semantic_ooo_replay",
    "st_ann_serve_replay", "st_ann_serve_ooo_replay",
    "st_store_phash_replay", "st_store_phash_ooo_replay",
    "st_sessions_replay", "st_sessions_ooo_replay",
    "st_funnel_replay", "st_funnel_ooo_replay",
    "st_attrib_replay", "st_attrib_ooo_replay",
    "st_dedup_replay", "st_dedup_ooo_replay",
    "st_mm_ingest_replay", "st_mm_ingest_ooo_replay",
    "st_window_replay", "st_window_ooo_replay",
    "st_retention_replay", "st_retention_ooo_replay")

  test("the replay table yields exactly the 28 st_*_replay keys") {
    assert(replayKeys.size == 28)
    val keys = SparkEntry.queries.keySet
      .filter(k => k.startsWith("st_") && k.endsWith("_replay"))
    assert(keys == replayKeys)
    assert(SparkEntry.oracleSql.keySet.intersect(keys) == replayKeys)
  }

  test("each _ooo gate's oracle is its in-order twin's") {
    val oracles = SparkEntry.oracleSql
    val ooo = replayKeys.filter(_.endsWith("_ooo_replay"))
    assert(ooo.size == 14)
    ooo.foreach { k =>
      val twin = k.stripSuffix("_ooo_replay") + "_replay"
      assert(oracles(twin).nonEmpty, twin)
      assert(oracles(k) == oracles(twin), k)
    }
  }

  test("Bench prices exactly the 12 served-store replay keys as builds") {
    val served = Seq("store_dedup", "store_neardup", "decontaminate",
      "decontaminate_semantic", "ann_serve", "store_phash")
      .flatMap(f => Seq(s"st_${f}_replay", s"st_${f}_ooo_replay")).toSet
    assert(served.size == 12)
    assert(Bench.StoreBuildKeys.filter(_.startsWith("st_")) == served)
  }
}
