package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.functions.{BloomAgg, BloomFns}
import graft.operators.Relational

class BloomFilterSpec extends AnyFunSuite {
  private val spark = SparkSessionHelper.spark
  private val dir = "/root/testdata/sf0.001"

  test("no false negatives: every added key probes true") {
    val bits = BloomAgg.zero
    val keys = (0L until 5000L).map(_ * 2654435761L)
    keys.foreach(BloomFns.add(bits, _))
    assert(keys.forall(BloomFns.contains(bits, _)))
  }

  test("false-positive rate is near the design point at design load") {
    val bits = BloomAgg.zero
    (0L until 6000L).foreach(k => BloomFns.add(bits, k))
    val probes = (1000000L until 1100000L).toSeq
    val fp = probes.count(BloomFns.contains(bits, _))
    // k=6, m=131072, n=6000 -> theoretical fpp ~2e-4; allow 10x slack
    assert(fp.toDouble / probes.size < 2e-3, s"$fp false positives")
  }

  test("merge is a lossless bitwise OR (partial/final split safe)") {
    val a = BloomAgg.zero
    val b = BloomAgg.zero
    (0L until 100L).foreach(BloomFns.add(a, _))
    (100L until 200L).foreach(BloomFns.add(b, _))
    val m = BloomAgg.merge(a, b)
    assert((0L until 200L).forall(BloomFns.contains(m, _)))
  }

  test("q31 bloom-pruned join equals the plain join (semantics preserved)") {
    import spark.implicits._
    val got = Relational.queries("q31_bloom_join")(spark, dir)
      .as[(String, Long, Double)].collect().toSeq
    val exp = Engine.table(spark, dir, "lineitem")
      .join(Engine.table(spark, dir, "orders")
        .where("o_totalprice > 480000"),
        $"l_orderkey" === $"o_orderkey")
      .groupBy($"o_orderpriority")
      .agg(org.apache.spark.sql.functions.count(
        org.apache.spark.sql.functions.lit(1)).as("n_items"),
        Engine.sumM($"l_extendedprice" * (org.apache.spark.sql.functions
          .lit(1.0) - $"l_discount")).as("revenue"))
      .orderBy($"o_orderpriority")
      .as[(String, Long, Double)].collect().toSeq
    assert(got == exp)
  }

  test("bloom probe is pushed below the join into the fact-side scan") {
    val plan = Relational.queries("q31_bloom_join")(spark, dir)
      .queryExecution.optimizedPlan
    import org.apache.spark.sql.catalyst.plans.logical.{Filter, Join}
    // find the join, then assert a bloom-contains Filter exists in the
    // fact (left) subtree — i.e. the probe runs before rows reach the join
    val joins = plan.collect { case j: Join => j }
    assert(joins.nonEmpty)
    val pushed = joins.exists(_.left.collect {
      case f: Filter
          if f.condition.toString.contains("graft_bloom_contains") => f
    }.nonEmpty)
    assert(pushed, s"bloom probe not pushed below join:\n$plan")
  }

  test("graft_bloom_agg rejects null keys instead of mishashing them") {
    intercept[IllegalArgumentException] {
      BloomAgg.reduce(BloomAgg.zero, null)
    }
  }

  test("scan-side pruning actually drops rows before the join at sf0.001") {
    val li = Engine.table(spark, dir, "lineitem")
    val dims = Engine.table(spark, dir, "orders")
      .where("o_totalprice > 480000")
    dims.createOrReplaceTempView("bf_dims")
    li.createOrReplaceTempView("bf_li")
    val kept = spark.sql(
      """SELECT COUNT(*) FROM bf_li WHERE graft_bloom_contains(
        |  (SELECT graft_bloom_agg(o_orderkey) FROM bf_dims), l_orderkey)
        |""".stripMargin).head().getLong(0)
    val total = li.count()
    val trueMatches = li.join(dims,
      li("l_orderkey") === dims("o_orderkey"), "left_semi").count()
    assert(kept < total, "bloom pruned nothing")
    assert(kept >= trueMatches, "bloom dropped a true match")
  }
}
