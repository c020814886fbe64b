package graft.plans

import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, LongType}

/** Weighted 128-bit SimHash: like [[SimHash128]] (one pass, both
  * fingerprint halves, hi hash derived inline via XXH64 seed 42) but
  * each feature's ±1 bit votes are scaled by its weight — the
  * idf-weighting Charikar/Manku simhash uses so corpus-wide frequent
  * features can't dominate the fingerprint (the stop-list filter is
  * the weight-0 special case of this).
  *
  * `left` = array<long> feature hashes, `right` = array<long> weights,
  * element-aligned; mismatched lengths yield null (a malformed weights
  * projection must surface, not silently truncate). Bit-equal to the
  * portable fold `SimHash.simhash64WeightedHof` per half (asserted in
  * GraftExtensionsSpec). The body is [[HashKernels.simhash128Weighted]].
  */
case class SimHash128Weighted(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = true // length-mismatch yields null
  override def prettyName: String = "simhash128w"

  override def nullSafeEval(hashes: Any, weights: Any): Any =
    HashKernels.simhash128Weighted(
      hashes.asInstanceOf[ArrayData], weights.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (h, w) =>
      s"""${ev.value} = graft.plans.HashKernels.simhash128Weighted($h, $w);
         |${ev.isNull} = ${ev.value} == null;""".stripMargin)

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): SimHash128Weighted =
    copy(left = newLeft, right = newRight)
}
