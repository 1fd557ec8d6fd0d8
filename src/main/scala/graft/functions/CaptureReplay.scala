package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{ConditionalExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, CodeGenerator, ExprCode}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.types.DataType

/** Use site of a subexpression that several captured columns share.
  *
  * `captured` is the shared [[TryCapture]] struct, computed once per row
  * in a column of its own; `original` is this use site's own copy of the
  * subexpression. When the shared capture succeeded this returns its
  * value. When it failed, this evaluates `original`, which throws the
  * same error the column would have thrown without sharing: same class,
  * and the same message, whose query context names this use site's own
  * SQL fragment. The extra evaluation is paid on failing rows only.
  *
  * As a [[ConditionalExpression]] whose only always-evaluated input is
  * `captured`, it keeps subexpression elimination from hoisting
  * `original` out of its branch.
  */
case class CaptureReplay(captured: Expression, original: Expression)
    extends Expression with ConditionalExpression {

  override def children: Seq[Expression] = Seq(captured, original)
  override def dataType: DataType = original.dataType
  override def nullable: Boolean = original.nullable
  override def prettyName: String = "capture_replay"

  override def alwaysEvaluatedInputs: Seq[Expression] = captured :: Nil
  override def withNewAlwaysEvaluatedInputs(inputs: Seq[Expression]): CaptureReplay =
    copy(captured = inputs.head)
  override def branchGroups: Seq[Seq[Expression]] = Nil

  override def eval(input: InternalRow): Any = {
    val c = captured.eval(input).asInstanceOf[InternalRow]
    if (c == null || !c.isNullAt(1)) original.eval(input)
    else if (c.isNullAt(0)) null
    else c.get(0, dataType)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val c = captured.genCode(ctx)
    val o = original.genCode(ctx)
    val javaType = CodeGenerator.javaType(dataType)
    ev.copy(code = code"""
      ${c.code}
      boolean ${ev.isNull} = true;
      $javaType ${ev.value} = ${CodeGenerator.defaultValue(dataType)};
      if (!${c.isNull} && ${c.value}.isNullAt(1)) {
        ${ev.isNull} = ${c.value}.isNullAt(0);
        if (!${ev.isNull}) {
          ${ev.value} = ${CodeGenerator.getValue(c.value, dataType, "0")};
        }
      } else {
        ${o.code}
        ${ev.isNull} = ${o.isNull};
        ${ev.value} = ${o.value};
      }
    """)
  }

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): CaptureReplay =
    copy(captured = newChildren(0), original = newChildren(1))
}
