package graft.plans

import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
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
  * precedent), which is all the consumer uses.
  */
case class WindowHashes(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "window_hashes"

  override def nullSafeEval(tokenHashes: Any, nAny: Any): Any = {
    val arr = tokenHashes.asInstanceOf[ArrayData]
    val n = nAny.asInstanceOf[Int]
    val m = arr.numElements()
    val windows = math.max(m - n + 1, 0)
    val out = new Array[Long](windows)
    var i = 0
    while (i < windows) {
      var h = ShingleHashes.Seed
      var k = 0
      while (k < n) {
        h = ShingleHashes.mix(h, arr.getLong(i + k)) + k
        k += 1
      }
      out(i) = h
      i += 1
    }
    new GenericArrayData(out)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (th, nArg) => {
      val m = ctx.freshName("m")
      val win = ctx.freshName("win")
      val i = ctx.freshName("i")
      val k = ctx.freshName("k")
      val h = ctx.freshName("h")
      val out = ctx.freshName("out")
      s"""
         |int $m = $th.numElements();
         |int $win = java.lang.Math.max($m - $nArg + 1, 0);
         |long[] $out = new long[$win];
         |for (int $i = 0; $i < $win; $i++) {
         |  long $h = ${ShingleHashes.Seed}L;
         |  for (int $k = 0; $k < $nArg; $k++) {
         |    long x = $th.getLong($i + $k);
         |    x = (x ^ (x >>> 33)) * ${ShingleHashes.Mult1}L;
         |    $h = ($h ^ x) * ${ShingleHashes.Mult2}L + $k;
         |  }
         |  $out[$i] = $h;
         |}
         |${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData($out);
         |""".stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}
