package graft.plans

import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, LongType}

/** Native 64-bit SimHash over an `array<long>` of token hashes: one
  * pass, 64 in-place counters, codegen'd — replaces an
  * aggregate(zip_with) fold that allocates a 64-element array per
  * token. Bit-equal to that fold's counter/threshold semantics
  * (counter > 0 sets the bit; the fold is the test reference). The
  * body is [[HashKernels.simhash64]].
  */
case class SimHash64(child: Expression)
    extends UnaryExpression {

  override def dataType: DataType = LongType
  override def prettyName: String = "simhash64"

  override def nullSafeEval(input: Any): Any =
    HashKernels.simhash64(input.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => s"${ev.value} = graft.plans.HashKernels.simhash64($c);")

  override protected def withNewChildInternal(newChild: Expression): SimHash64 =
    copy(child = newChild)
}
