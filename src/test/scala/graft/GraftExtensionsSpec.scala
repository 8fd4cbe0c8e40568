package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.BloomAgg

/** The builder-time extension entry point: a session built with
  * `withExtensions(new GraftExtensions)` has every graft_* function and
  * the TopKPerKey strategy WITHOUT any runtime attach call.
  */
class GraftExtensionsSpec extends AnyFunSuite {

  test("extensions session exposes the kernels and the planner strategy") {
    val base = SparkSessionHelper.spark // shares its SparkContext
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    val s2 = try SparkSession.builder()
      .master("local[4]")
      .withExtensions(new GraftExtensions)
      .getOrCreate()
    finally {
      SparkSession.setDefaultSession(base)
      SparkSession.setActiveSession(base)
    }
    try {
      val r = s2.sql(
        "SELECT graft_h32('abc') AS h, graft_dot(array(cast(1.0 as float)," +
          " cast(2.0 as float)), array(cast(3.0 as float)," +
          " cast(4.0 as float))) AS d").collect()(0)
      // md5('abc') = 900150983cd24fb0...: first 8 hex digits
      assert(r.getLong(0) == java.lang.Long.parseLong("90015098", 16))
      assert(r.getDouble(1) == 11.0)
      // EVERY canonical builder must resolve through the extension
      // path — the lists cannot drift because they are the same list,
      // but a registration failure (name collision, builder arity)
      // would still surface here
      graft.functions.VectorFunctions.builders.foreach { case (name, _) =>
        assert(s2.catalog.functionExists(name), s"$name not injected")
      }
      // the aggregate builds through the same list: graft_bloom_agg
      // resolves and folds 0..99 into the bits BloomAgg folds locally
      val bits = s2.sql("SELECT graft_bloom_agg(id) FROM range(100)")
        .collect()(0).getSeq[Long](0)
      val expect = (0L until 100L).foldLeft(BloomAgg.zero)(
        (b, k) => BloomAgg.reduce(b, Long.box(k)))
      assert(bits == expect.toSeq)
      assert(s2.sql("SELECT graft_bloom_contains((SELECT " +
        "graft_bloom_agg(id) FROM range(100)), 42L)").collect()(0).getBoolean(0))
      assert(s2.sessionState.planner.strategies
        .contains(graft.plans.TopKPerKeyStrategy))
      // the injected optimizer rule retargets the plain window-top-k
      // idiom without any runtime attach
      import s2.implicits._
      val idiom = Seq((1L, 10L, 1L), (1L, 20L, 2L), (2L, 5L, 3L))
        .toDF("k", "o", "t")
        .selectExpr("k", "o", "t",
          "row_number() over (partition by k order by o desc, t) as rn")
        .where("rn <= 1")
      assert(idiom.queryExecution.executedPlan.toString
        .contains("TopKPerKey 1"),
        idiom.queryExecution.executedPlan.toString.take(2000))
      assert(idiom.collect().map(r => (r.getLong(0), r.getLong(1))).toSet ==
        Set((1L, 20L), (2L, 5L)))
    } finally {
      // drop only the extra session; the shared context stays up
      SparkSession.setDefaultSession(base)
      SparkSession.setActiveSession(base)
    }
  }
}
