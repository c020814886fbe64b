package graft.plans

import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, LongType}

import graft.operators.MinHashLSH

/** Native MinHash signature: `array<long>` shingle hashes → `numPerm`
  * min-hash values, in one tight codegen'd loop.
  *
  * This is the "drop to a custom Catalyst Expression" rung of the
  * preference ladder: the semantics ARE expressible with built-ins
  * (an aggregate + zip_with fold — kept in the test suite as this
  * kernel's equivalence reference), but the fold
  * allocates a fresh 64-element array per shingle element. Here the
  * generated code keeps one `long[numPerm]` and updates it in place —
  * no per-element allocation, no virtual calls — and the interpreted
  * path mirrors it exactly.
  *
  * Arithmetic is IDENTICAL to the HOF path: v = pmod(h*a + b, P) with
  * Java wrap-around multiply, so both paths produce bit-equal
  * signatures (asserted in GraftExtensionsSpec).
  */
case class MinHashSignature(child: Expression, numPerm: Int, seed: Long)
    extends UnaryExpression {

  private val P = MinHashLSH.Prime
  @transient private lazy val perms = MinHashLSH.permutations(numPerm, seed)
  @transient private lazy val aArr: Array[Long] = perms.map(_._1).toArray
  @transient private lazy val bArr: Array[Long] = perms.map(_._2).toArray

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "minhash_sig"

  override def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[ArrayData]
    val sig = Array.fill(numPerm)(P)
    var i = 0
    val n = arr.numElements()
    while (i < n) {
      val h = arr.getLong(i)
      var j = 0
      while (j < numPerm) {
        var v = (h * aArr(j) + bArr(j)) % P
        if (v < 0) v += P
        if (v < sig(j)) sig(j) = v
        j += 1
      }
      i += 1
    }
    new GenericArrayData(sig)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val aRef = ctx.addReferenceObj("minhashA", aArr, "long[]")
    val bRef = ctx.addReferenceObj("minhashB", bArr, "long[]")
    nullSafeCodeGen(ctx, ev, c => {
      val sig = ctx.freshName("sig")
      val i = ctx.freshName("i")
      val j = ctx.freshName("j")
      val h = ctx.freshName("h")
      val v = ctx.freshName("v")
      s"""
         |long[] $sig = new long[$numPerm];
         |java.util.Arrays.fill($sig, ${P}L);
         |for (int $i = 0; $i < $c.numElements(); $i++) {
         |  long $h = $c.getLong($i);
         |  for (int $j = 0; $j < $numPerm; $j++) {
         |    long $v = ($h * $aRef[$j] + $bRef[$j]) % ${P}L;
         |    if ($v < 0) $v += ${P}L;
         |    if ($v < $sig[$j]) $sig[$j] = $v;
         |  }
         |}
         |${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData($sig);
       """.stripMargin
    })
  }

  override protected def withNewChildInternal(newChild: Expression): MinHashSignature =
    copy(child = newChild)
}
