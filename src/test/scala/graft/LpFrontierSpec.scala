package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Dedup

/** Gates the semi-naive (frontier) label-propagation rounds
  * (Dedup.labelPropagate): the frontier path and the full-pass path
  * must reach the IDENTICAL fixed point — the min node id per
  * connected component — on a graph built to stress exactly what the
  * frontier restricts (long chains whose tail rounds move few labels,
  * late-arriving minima, adversarial edge orientation), plus the
  * physical property the once-per-loop edge layout depends on:
  * localCheckpoint preserving hash partitioning and sort order.
  */
class LpFrontierSpec extends AnyFunSuite {

  private val spark = SparkSessionHelper.spark
  import spark.implicits._

  // Chain of diameter 30 with the minimum at one end (tail rounds move
  // a handful of labels — the frontier regime); a star whose hub is
  // NOT the minimum; a triangle bridged to the star (min must cross
  // the bridge); a 2-node component; two singletons with no edges.
  private val chainEdges = (100L until 130L).map(i => (i + 1, i))
  private val starEdges = (201L to 210L).map(i => (200L, i)) :+ (205L, 199L)
  private val triEdges = Seq((300L, 301L), (301L, 302L), (302L, 300L),
    (302L, 210L))
  private val pairEdges = Seq((400L, 401L))
  private val allEdges = chainEdges ++ starEdges ++ triEdges ++ pairEdges
  private val allNodes =
    (allEdges.flatMap(e => Seq(e._1, e._2)) ++ Seq(500L, 501L)).distinct

  /** Driver-side union-find oracle: expected min label per node. */
  private def expected: Map[Long, Long] = {
    val parent = scala.collection.mutable.Map(allNodes.map(n => n -> n): _*)
    def find(x: Long): Long =
      if (parent(x) == x) x
      else { val r = find(parent(x)); parent(x) = r; r }
    allEdges.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    allNodes.map(n => n -> find(n)).toMap
  }

  private def propagate(frontier: Boolean = true): Map[Long, Long] = {
    val pairs = allEdges.toDF("pa", "pb")
      // shuffle the edge order so no pass benefits from input order
      .orderBy(xxhash64(col("pa"), col("pb")))
    val nodes = allNodes.toDF("doc_id")
    Dedup.labelPropagate("lp_frontier_spec", pairs, nodes,
      frontier = frontier)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
  }

  test("frontier rounds reach the union-find fixed point") {
    assert(propagate() === expected)
  }

  test("frontier and full-pass rounds agree (and on the oracle)") {
    val frontier = propagate()
    val full = propagate(frontier = false)
    assert(frontier === full)
    assert(full === expected)
  }

  test("localCheckpoint preserves the loop's edge layout") {
    // The loop pays the 2E exchange+sort ONCE and expects every
    // round's neighbor join to reuse it through the checkpoint: the
    // edge side of the join must show no Exchange of its own.
    val aqeWas = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val e = (1L to 1000L).map(i => (i, i % 100)).toDF("src", "dst")
        .repartition(4, col("dst"))
        .sortWithinPartitions(col("dst"))
        .localCheckpoint()
      val cur = (0L to 99L).map(i => (i, i)).toDF("doc_id", "cluster_id")
        .localCheckpoint()
      val plan = e.join(cur, e("dst") === cur("doc_id"))
        .groupBy(col("src")).agg(min(col("cluster_id")))
        .queryExecution.executedPlan.toString
      val nEx = "Exchange".r.findAllIn(plan).length
      // label side + groupBy re-key only — an edge-side exchange means
      // the checkpoint dropped outputPartitioning and every LP round
      // would re-shuffle the full closure
      assert(nEx <= 2, s"edge-side exchange not elided:\n$plan")
    } finally spark.conf.set("spark.sql.adaptive.enabled", aqeWas)
  }
}
