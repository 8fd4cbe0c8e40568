package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.types.{DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** `clean_text` (`transformer.py:30-90`) as a native Catalyst expression —
  * the optimization SURVEY.md §2.10 reserves for the 100 TB ETL path: the
  * cross-line state machine itself stays the shared Scala implementation
  * ([[CleanText]]), but as an Expression it participates in whole-stage
  * codegen directly (a static call per row, no UDF wrapper, no encoder
  * round-trip) and is usable in any Column pipeline:
  * `selectExpr("graft_clean_text(body)")`.
  *
  * Null semantics mirror the reference exactly: null in -> "" out
  * (`clean_text(None) == ""`), so the expression is never null.
  */
case class CleanTextExpression(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"graft_clean_text expects string, got ${child.dataType.sql}")

  override def dataType: DataType = StringType
  override def nullable: Boolean = false
  override def prettyName: String = "graft_clean_text"

  override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any = {
    val v = child.eval(input)
    val s = if (v == null) null else v.toString
    UTF8String.fromString(CleanText(s))
  }

  override protected def doGenCode(ctx: CodegenContext,
                                   ev: ExprCode): ExprCode = {
    val c = child.genCode(ctx)
    val cleaned = ctx.freshName("cleaned")
    ev.copy(
      code = code"""
        ${c.code}
        java.lang.String $cleaned = graft.functions.CleanText$$.MODULE$$
          .apply(${c.isNull} ? null : ${c.value}.toString());
        UTF8String ${ev.value} = UTF8String.fromString($cleaned);
      """,
      isNull = FalseLiteral)
  }

  override protected def withNewChildInternal(newChild: Expression)
      : CleanTextExpression = copy(child = newChild)
}
