package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions.{col, md5}
import graft.operators.Similarity
import graft.run.StoreCtl

/** The recall alarms' query-sampling knob (graft.recall.sample /
  * `StoreCtl recall --sample n`): the sampled report must equal the
  * FULL report restricted to the deterministic n-smallest-hash query
  * subset — sampling changes which queries are measured, never what
  * any query measures (each query's exact top-3 and served window are
  * per-query computations, so restricting the query set cannot move a
  * surviving row). Off by default: the driver keys stay full-surface.
  */
class RecallSampleSpec extends AnyFunSuite {

  private val spark = SparkSessionHelper.spark
  private val dir = "/root/testdata/sf0.001"

  private def tmp(name: String): String = {
    val f = new java.io.File(
      sys.props.getOrElse("java.io.tmpdir", "/tmp"),
      s"graft_recsample_${name}_p${ProcessHandle.current().pid()}")
    def rec(g: java.io.File): Unit = {
      if (g.isDirectory) g.listFiles().foreach(rec)
      g.delete()
    }
    rec(f)
    f.toString
  }

  /** The knob's documented subset, computed independently: the n
    * query ids with the smallest md5 hex, vec_id tie-break (the
    * cross-engine hash the sampled bench key's oracle restates).
    */
  private def sampleIds(n: Int): Seq[Long] =
    Engine.table(spark, dir, "embeddings")
      .where(s"vec_id >= ${Similarity.IvfQ}")
      .select(col("vec_id"))
      .orderBy(md5(col("vec_id").cast("string")), col("vec_id"))
      .limit(n).collect().map(_.getLong(0)).toSeq

  test("sampled global-recall report == full report restricted to the " +
      "deterministic hash subset; off by default") {
    val root = tmp("gl"); new java.io.File(root).mkdirs()
    assert(StoreCtl.run(spark,
      Seq("build", "ivfpq", dir, s"$root/gen-0")).isRight)
    assert(StoreCtl.run(spark, Seq("flip", root, "gen-0")).isRight)
    val model = Similarity.IvfPqStore.load(spark, s"$root/gen-0")
    def report(): Map[Long, (Long, Long)] =
      Similarity.annRecallGlobalFrame(spark, dir, model).collect()
        .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    val full = report()
    assert(spark.conf.getOption(Similarity.RecallSampleKey).isEmpty)
    val ids = sampleIds(3)
    assert(ids.length == 3 && full.keySet.intersect(ids.toSet).size == 3)
    spark.conf.set(Similarity.RecallSampleKey, "3")
    val sampled =
      try report()
      finally spark.conf.unset(Similarity.RecallSampleKey)
    assert(sampled == full.view.filterKeys(ids.contains).toMap,
      s"sampled report diverged: $sampled vs full restricted to $ids")
    // knob off again: the full surface returns
    assert(report() == full)
  }

  test("StoreCtl recall --sample measures exactly the subset's lines " +
      "and restores the conf afterwards") {
    val root = tmp("ctl"); new java.io.File(root).mkdirs()
    assert(StoreCtl.run(spark,
      Seq("build", "ivfpq", dir, s"$root/gen-0")).isRight)
    assert(StoreCtl.run(spark, Seq("flip", root, "gen-0")).isRight)
    def lines(out: Either[String, String]): Map[Long, String] =
      """query (\d+): (\d/3)""".r
        .findAllMatchIn(out.toOption.get)
        .map(m => m.group(1).toLong -> m.group(2)).toMap
    val full = lines(StoreCtl.run(spark, Seq("recall", root, dir)))
    val sampled = lines(StoreCtl.run(spark,
      Seq("recall", "--sample", "2", root, dir)))
    val ids = sampleIds(2).toSet
    assert(sampled.keySet == ids, s"sampled ${sampled.keySet} != $ids")
    assert(sampled == full.view.filterKeys(ids).toMap)
    // the conf does not leak out of the verb
    assert(spark.conf.getOption(Similarity.RecallSampleKey).isEmpty)
    // bad counts refuse loudly
    assert(StoreCtl.run(spark,
      Seq("recall", "--sample", "0", root, dir)).isLeft)
    assert(StoreCtl.run(spark,
      Seq("recall", "--sample", "nope", root, dir)).isLeft)
  }
}
