package graft.plans

import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, LongType}

/** Native 128-bit SimHash over an `array<long>` of feature (lo)
  * hashes, returning `[fp_hi, fp_lo]`: ONE pass maintains all 128
  * counters, deriving each feature's hi-stream hash inline via
  * Catalyst's XXH64 long-mix — exactly `xxhash64(h)` (seed 42), so
  * the result is bit-equal to two `simhash64` calls over `lo` and
  * `transform(lo, xxhash64)` (asserted in GraftExtensionsSpec) while
  * skipping the materialized hi array and the second fold. The body
  * is [[HashKernels.simhash128]].
  */
case class SimHash128(child: Expression)
    extends UnaryExpression {

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "simhash128"

  override def nullSafeEval(input: Any): Any =
    HashKernels.simhash128(input.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => s"${ev.value} = graft.plans.HashKernels.simhash128($c);")

  override protected def withNewChildInternal(newChild: Expression): SimHash128 =
    copy(child = newChild)
}
