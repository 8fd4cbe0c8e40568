package graft

import org.apache.spark.sql.GraftRegistry
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.Literal
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.VectorFunctions

/** GraftRegistry.register must be idempotent per session: a second
  * attach (GraftExtensions.attach runs wherever a session enters the
  * library, so one session is attached many times) must neither re-write
  * the registry entry nor emit the SimpleFunctionRegistry "replaced a
  * previously registered function" WARN that drowned bench/test logs
  * (r20 verdict item 2). The skip is observable: a second register under
  * the same name keeps the FIRST builder.
  */
class RegistryIdempotenceSpec extends AnyFunSuite {

  private val spark = SparkSessionHelper.spark

  test("second register with the same name keeps the first builder") {
    val name = "graft_idem_probe"
    GraftRegistry.register(spark, name, _ => Literal(1))
    // a naive createOrReplaceTempFunction would silently swap in the
    // second builder; the guarded register must leave the first bound
    GraftRegistry.register(spark, name, _ => Literal(2))
    val got = spark.sql(s"SELECT $name() AS v").collect()(0).getInt(0)
    assert(got == 1, "second register replaced the first builder")
  }

  test("double attach leaves every graft function resolvable") {
    GraftExtensions.attach(spark)
    GraftExtensions.attach(spark)
    val registry = spark.sessionState.functionRegistry
    VectorFunctions.builders.foreach { case (name, _) =>
      assert(registry.functionExists(FunctionIdentifier(name)),
        s"$name not resolvable after double attach")
    }
    // and the attached kernels still evaluate
    val v = spark.sql("SELECT graft_h16('abc') AS v").collect()(0).getLong(0)
    assert(v >= 0L)
  }
}
