package graft

import scala.util.Random

import org.scalatest.funsuite.AnyFunSuite


/** The broadcast-codebook quantization kernels (`graft_argmin_cell`,
  * `graft_dist_lut`) at a PRODUCTION cell count. The literal-argmin SQL
  * they replaced rendered one `aggregate(zip_with(...))` distance tree
  * per centroid — O(K·dim) generated Java, which at K = 256 (the
  * standard 8-bit PQ codebook size) blows past Janino's 64 KB method
  * ceiling and cannot stay in codegen. The kernel passes the flattened
  * codebook as ONE constant-folded array argument, so these tests run
  * the SAME integer arithmetic at K = 256 and check it against (a) a
  * driver-side Scala reference and (b) the unfused HOF formulation at a
  * K small enough for the HOF to exist.
  */
class IvfPqKernelSpec extends AnyFunSuite {

  private val spark = SparkSessionHelper.spark
  import spark.implicits._

  private val rnd = new Random(20260814L)
  private val Dim = 16

  /** Exact integer squared L2 — the reference the kernels must match. */
  private def d2(a: Seq[Long], b: Seq[Long]): Long =
    a.zip(b).map { case (p, q) => (p - q) * (p - q) }.sum

  private def lit(xs: Seq[Long]): String =
    xs.map(v => s"${v}L").mkString("array(", ",", ")")

  test("graft_argmin_cell at K = 256 matches the Scala reference " +
       "(a codebook size the literal-argmin form could not compile)") {
    val k = 256
    // non-contiguous, unsorted cell ids: the call-site contract is that
    // the CALLER sorts by cell before flattening — mirror that here
    val cents = rnd.shuffle((0 until k).map(_.toLong * 3 + 1).toVector)
      .map(cell => (cell, Seq.fill(Dim)(rnd.nextLong(20001) - 10000)))
    val sorted = cents.sortBy(_._1)
    val cellsLit = lit(sorted.map(_._1))
    val flatLit = lit(sorted.flatMap(_._2))
    val vecs = Seq.tabulate(300)(i =>
      (i.toLong, Seq.fill(Dim)(rnd.nextLong(20001) - 10000)))
    val got = vecs.toDF("vec_id", "x4")
      .selectExpr("vec_id", s"graft_argmin_cell(x4, $cellsLit, $flatLit) AS cell")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    vecs.foreach { case (id, x) =>
      val expected = sorted
        .map { case (cell, c) => (cell, d2(x, c)) }
        .minBy { case (cell, dist) => (dist, cell) }._1
      assert(got(id) == expected, s"vec $id")
    }
  }

  test("graft_argmin_cell ties resolve to the LOWEST cell id " +
       "(first minimum over cell-sorted input)") {
    val c = Seq.fill(Dim)(7L)
    // three identical centroids under different cell ids
    val sorted = Seq((2L, c), (5L, c), (9L, c))
    val df = Seq(Tuple1(Seq.fill(Dim)(3L))).toDF("x4")
      .selectExpr(s"graft_argmin_cell(x4, ${lit(sorted.map(_._1))}, " +
        s"${lit(sorted.flatMap(_._2))}) AS cell")
    assert(df.collect().head.getLong(0) == 2L)
  }

  test("graft_argmin_cell equals the unfused literal-argmin HOF at K = 4") {
    val cents = (0L until 4L).map(cell =>
      (cell, Seq.fill(Dim)(rnd.nextLong(20001) - 10000)))
    val dists = cents.map { case (_, c) =>
      s"aggregate(zip_with(x4, ${lit(c)}, (p, q) -> (p - q) * (p - q))," +
        s" cast(0 as bigint), (acc, d) -> acc + d)"
    }.mkString("array(", ",", ")")
    val unfused = s"element_at(${lit(cents.map(_._1))}," +
      s" cast(array_position($dists, array_min($dists)) as int))"
    val rows = Seq.fill(200)(Seq.fill(Dim)(rnd.nextLong(20001) - 10000))
    rows.map(Tuple1(_)).toDF("x4")
      .selectExpr(
        s"graft_argmin_cell(x4, ${lit(cents.map(_._1))}, " +
          s"${lit(cents.flatMap(_._2))}) AS fused",
        s"$unfused AS unfused")
      .collect()
      .foreach(r => assert(r.getLong(0) == r.getLong(1)))
  }

  test("graft_dist_lut at K = 256 matches the Scala reference") {
    val k = 256
    val cents = (0 until k).map(_ => Seq.fill(Dim)(rnd.nextLong(20001) - 10000))
    val flatLit = lit(cents.flatten)
    val vecs = Seq.tabulate(100)(i =>
      (i.toLong, Seq.fill(Dim)(rnd.nextLong(20001) - 10000)))
    val got = vecs.toDF("vec_id", "x4")
      .selectExpr("vec_id", s"graft_dist_lut(x4, $flatLit) AS lut")
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    vecs.foreach { case (id, x) =>
      val expected = cents.map(c => d2(x, c))
      assert(got(id) == expected, s"vec $id")
    }
  }
}
