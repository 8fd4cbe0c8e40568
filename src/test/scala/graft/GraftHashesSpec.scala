package graft

import org.apache.spark.SparkException
import org.scalatest.funsuite.AnyFunSuite


/** Defensive-input contract of the fused sketch kernels
  * (functions/GraftHashExpressions.scala): the call sites feed dense
  * arrays, but the static type at every call site is containsNull=true,
  * so a SQL caller CAN hand a null-element array — the kernels must then
  * match the unfused higher-order-function formulations they replace
  * (null skipped by `least`, CASE-null -> ELSE branch), never read a
  * garbage 0, and a simhash64 half-length mismatch must raise rather
  * than index off the end of the shorter array.
  */
class GraftHashesSpec extends AnyFunSuite {

  private val spark = SparkSessionHelper.spark

  private def one(expr: String): Any =
    spark.sql(s"SELECT $expr AS v").collect()(0).get(0)

  test("minhash16 skips null elements like the least(...) fold") {
    val withNull = one(
      "graft_minhash16(array(7L, cast(null as bigint), 99L))")
    val without = one("graft_minhash16(array(7L, 99L))")
    assert(withNull == without)
  }

  test("minhash16 of all-null elements folds to the MaxValue init") {
    val r = one("graft_minhash16(array(cast(null as bigint)))")
      .asInstanceOf[scala.collection.Seq[Long]]
    assert(r.forall(_ == Long.MaxValue))
  }

  test("simhash16: null token contributes -1 on every bit counter") {
    // one null token: all counters -1 -> no bit set
    assert(one("graft_simhash16(array(cast(null as bigint)))") == 0L)
    // the null outvotes nothing: [h, null] has every counter h's vote
    // minus one -> 0 counters never go positive, so result is 0, which
    // is exactly what 16 unfused CASE-per-bit folds give
    assert(one("graft_simhash16(array(65535L, cast(null as bigint)))") == 0L)
    // two copies of h outvote one null on h's set bits
    assert(one(
      "graft_simhash16(array(65535L, 65535L, cast(null as bigint)))") == 65535L)
  }

  test("simhash64: null in either half contributes -1 on every counter") {
    assert(one("graft_simhash64(array(cast(null as bigint)), array(5L))") == 0L)
    assert(one(
      "graft_simhash64(array(3L, 3L, cast(null as bigint))," +
        " array(0L, 0L, 0L))") == 3L)
  }

  test("simhash64 raises on length-mismatched halves") {
    val e = intercept[Exception](
      one("graft_simhash64(array(1L, 2L), array(1L))"))
    def msgs(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ msgs(t.getCause)
    assert(msgs(e).exists(_.contains("length mismatch")), e.toString)
  }

  test("rh_buckets: a null component zeroes every band bucket") {
    val r = one("graft_rh_buckets(array(cast(1.0 as float), cast(null as float)))")
      .asInstanceOf[scala.collection.Seq[Int]]
    assert(r.length == 12 && r.forall(_ == 0))
  }

  test("prettyName matches the registered name for the 15-nibble " +
       "(64-bit-advertised) variants") {
    import org.apache.spark.sql.catalyst.expressions.Literal
    val s = Literal("x")
    assert(graft.functions.Md5PrefixHash(s, 15).prettyName == "graft_h64")
    assert(graft.functions.Md5PrefixSortedDistinct(
      org.apache.spark.sql.catalyst.expressions.Literal.create(
        Seq("x"), org.apache.spark.sql.types.ArrayType(
          org.apache.spark.sql.types.StringType)), 15)
      .prettyName == "graft_h64sd")
  }
}
