package graft.plans

import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, LongType}

/** Distinct n-gram shingle hashes from a token-hash array, one pass:
  * for each window of n token hashes, a 64-bit avalanche mix,
  * deduplicated. Full 64-bit values — consumers needing the minhash
  * domain reduce mod 2³¹−1 themselves (collision budget stays ~2⁻⁶⁴
  * for exact set-count users like blockedJaccardPairs). Replaces building each n-gram as a string
  * and xxhash64-ing it (per-shingle string allocation), and avoids the
  * lambda-inlining trap of a positional HOF formulation (see
  * MinHashLSH.shingleHashes).
  *
  * Windows shorter than n (doc with < n tokens) hash the available
  * prefix — every non-empty document yields ≥1 shingle. The body is
  * [[HashKernels.shingleHashes]].
  */
case class ShingleHashes(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "shingle_hashes"

  override def nullSafeEval(tokenHashes: Any, n: Any): Any =
    HashKernels.shingleHashes(tokenHashes.asInstanceOf[ArrayData], n.asInstanceOf[Int])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (th, n) =>
      s"${ev.value} = graft.plans.HashKernels.shingleHashes($th, $n);")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): ShingleHashes =
    copy(left = newLeft, right = newRight)
}
