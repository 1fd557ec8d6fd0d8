package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{ConditionalExpression, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.graftshim.ColumnBridge
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

import graft.core.{model, GraftErrors}

/** Catalyst expression that evaluates `child` and captures any non-fatal
  * runtime error into data instead of failing the task.
  *
  * Returns `struct<value, error_class, error_message, stack_trace>` where
  * exactly one of `value` / error fields is populated — the engine-level
  * analog of the reference's per-record try/catch in
  * ErrorCapturingValueMapper.java:~63 (captureErrors) re-expressed as a
  * codegen'd expression so the happy path stays inside WholeStageCodegen.
  *
  * A [[ConditionalExpression]] with no always-evaluated input: nothing
  * inside it may run outside its try block. Otherwise subexpression
  * elimination hoists a subexpression that appears twice in `child`
  * (`cast(s AS INT) + cast(s AS INT)`) in front of the projection, and
  * its error fails the task instead of being captured.
  */
case class TryCapture(child: Expression, withStackTrace: Boolean = true)
    extends UnaryExpression with ConditionalExpression {

  override def dataType: DataType = model.capturedStructType(child.dataType)

  override def nullable: Boolean = false

  override def prettyName: String = "try_capture"

  // ConditionalExpression makes this foldable whenever the child is,
  // which must hold: otherwise ConstantFolding evaluates the bare child
  // at planning time and a throwing constant fails the query before
  // capture applies. Folding TryCapture itself is safe — it goes
  // through eval(), which catches.
  override def alwaysEvaluatedInputs: Seq[Expression] = Nil
  override def withNewAlwaysEvaluatedInputs(inputs: Seq[Expression]): TryCapture = this
  override def branchGroups: Seq[Seq[Expression]] = Nil

  override def eval(input: InternalRow): Any =
    try {
      new GenericInternalRow(Array[Any](child.eval(input), null, null, null))
    } catch {
      case t: Throwable =>
        if (GraftErrors.isFatal(t)) throw t
        new GenericInternalRow(Array[Any](
          null,
          UTF8String.fromString(t.getClass.getName),
          Option(t.getMessage).map(UTF8String.fromString).orNull,
          if (withStackTrace) UTF8String.fromString(GraftErrors.stackTraceString(t))
          else null))
    }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val childGen = child.genCode(ctx)
    val fields = ctx.freshName("capturedFields")
    val t = ctx.freshName("capturedThrowable")
    val rowClass = classOf[GenericInternalRow].getName
    val utf8 = classOf[UTF8String].getName
    val errors = "graft.core.GraftErrors$.MODULE$"
    val code =
      code"""
        Object[] $fields = new Object[4];
        try {
          ${childGen.code}
          $fields[0] = ${childGen.isNull} ? null : (Object) ${childGen.value};
        } catch (Throwable $t) {
          if ($errors.isFatal($t)) throw $errors.rethrow($t);
          $fields[1] = $utf8.fromString($t.getClass().getName());
          $fields[2] = $t.getMessage() == null ? null : $utf8.fromString($t.getMessage());
          $fields[3] = $withStackTrace ? $utf8.fromString($errors.stackTraceString($t)) : null;
        }
        final InternalRow ${ev.value} = new $rowClass($fields);
      """
    ev.copy(code = code, isNull = FalseLiteral)
  }

  override protected def withNewChildInternal(newChild: Expression): TryCapture =
    copy(child = newChild)
}

object TryCapture {
  /** Column-level entry point: `tryCapture(expr)` →
    * `struct<value, error_class, error_message, stack_trace>`.
    * `withStackTrace = false` skips stack-trace string rendering — the
    * dominant per-error cost when downstream only reads class/message.
    */
  def apply(c: Column): Column = apply(c, withStackTrace = true)

  def apply(c: Column, withStackTrace: Boolean): Column =
    ColumnBridge.column(TryCapture(ColumnBridge.expression(c), withStackTrace))
}
