package graft

import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

import graft.functions._

/** The standard Spark extension entry point for the graft engine:
  *
  * {{{
  * spark-submit --conf spark.sql.extensions=graft.GraftExtensions ...
  * // or
  * SparkSession.builder().withExtensions(new GraftExtensions) ...
  * }}}
  *
  * Injects every graft kernel as a session-bound SQL function and the
  * TopKPerKey planner strategy at SESSION BUILD time — the front door
  * Spark provides for libraries. Sessions the library did not build
  * (a notebook user's existing session, `spark.newSession()`) get the
  * same functions from [[GraftExtensions.attach]] where they enter the
  * library; both iterate [[VectorFunctions.builders]], so either path
  * yields the same function surface.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  private def fn(name: String, builder: Seq[Expression] => Expression)
      : (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) =
    (FunctionIdentifier(name),
      new ExpressionInfo("graft.functions", name), builder)

  override def apply(ext: SparkSessionExtensions): Unit = {
    // the one canonical builder list — shared with the runtime attach,
    // so the two front doors expose the identical function surface
    VectorFunctions.builders.foreach { case (name, builder) =>
      ext.injectFunction(fn(name, builder))
    }
    ext.injectPlannerStrategy(_ => graft.plans.TopKPerKeyStrategy)
    ext.injectOptimizerRule(_ => graft.plans.WindowTopKRewrite)
  }
}

object GraftExtensions {
  /** The runtime front door: binds every graft SQL function on `spark`.
    * Idempotent and cheap (one registry lookup per name), so it runs
    * wherever a session enters the library — [[Engine.session]], the
    * [[SparkEntry.queries]] boundary, `StoreCtl.run` and the public
    * stream builders — and operators assume an attached session.
    */
  def attach(spark: SparkSession): Unit =
    VectorFunctions.builders.foreach { case (name, builder) =>
      org.apache.spark.sql.GraftRegistry.register(spark, name, builder)
    }
}
