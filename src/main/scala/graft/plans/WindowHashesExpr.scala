package graft.plans

import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, LongType}

/** POSITIONAL sliding-window hashes from a token-hash array, one pass:
  * out[i] = 64-bit avalanche mix of token hashes i..i+n-1 — the
  * [[ShingleHashes]] kernel WITHOUT deduplication and with position
  * preserved (index in the output array = window start), the shape
  * [[graft.operators.TextDedup.substringDedup]] needs (its coverage
  * union is keyed on the window's start position). Unlike
  * [[ShingleHashes]], a document shorter than `n` yields an EMPTY
  * array — no window of the full span exists, so the document carries
  * no dedupable range (the operator's pass-through contract).
  *
  * Replaces a per-window string build (`concat_ws` over an n-token
  * slice → xxhash64 — one string allocation per window, O(span)
  * character copying each) with pure long arithmetic. Hash VALUES
  * differ from that string form's, which older builds could persist
  * (the `hash_flavor` "string" store the operator rejects); equality
  * classes agree modulo ~2⁻⁶⁴ collisions (the shingle_hashes
  * precedent), which is all the consumer uses. The body is
  * [[HashKernels.windowHashes]].
  */
case class WindowHashes(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "window_hashes"

  override def nullSafeEval(tokenHashes: Any, n: Any): Any =
    HashKernels.windowHashes(tokenHashes.asInstanceOf[ArrayData], n.asInstanceOf[Int])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (th, n) =>
      s"${ev.value} = graft.plans.HashKernels.windowHashes($th, $n);")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}
