package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.execution.aggregate.ScalaAggregator
import org.apache.spark.sql.expressions.{UserDefinedAggregator, UserDefinedFunction}

/** Minimal bridge into the session's function registry, which is
  * `private[sql]`. Lives in Spark's package solely to expose temp-function
  * registration to the graft library — the standard pattern for Spark
  * extension libraries that must attach expressions to sessions they did
  * not create (SparkSessionExtensions only applies at builder time).
  */
object GraftRegistry {
  def register(spark: SparkSession, name: String,
               builder: Seq[Expression] => Expression): Unit = {
    // The attach runs wherever a session enters the library, so the
    // same session is attached many times: an unconditional
    // createOrReplaceTempFunction re-wrote the registry entry (and
    // logged a SimpleFunctionRegistry "replaced" WARN) on every entry.
    // All graft names are namespaced (graft_*), so an existing binding
    // can only be a previous attach's identical builder — skip it.
    val registry = spark.sessionState.functionRegistry
    if (!registry.functionExists(
        org.apache.spark.sql.catalyst.FunctionIdentifier(name)))
      registry.createOrReplaceTempFunction(name, builder, "scala_udf")
  }

  /** A typed `Aggregator` (wrapped by `functions.udaf`) as a function
    * builder: the `ScalaAggregator` that `spark.udf.register(name, udaf)`
    * binds, but usable in a builder list, so an aggregate reaches a
    * session through the same front doors as the graft expressions.
    */
  def aggregate(name: String, fn: UserDefinedFunction)
      : Seq[Expression] => Expression = fn.withName(name) match {
    case a: UserDefinedAggregator[_, _, _] => children => ScalaAggregator(a, children)
    case other => throw new IllegalArgumentException(
      s"$name: not an aggregator (${other.getClass.getSimpleName})")
  }

  /** Wrap a custom logical plan back into the public DataFrame API
    * (`Dataset.ofRows` is `private[sql]`).
    */
  def dataFrame(spark: SparkSession,
                plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan)
      : DataFrame =
    org.apache.spark.sql.classic.Dataset.ofRows(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession], plan)
}
