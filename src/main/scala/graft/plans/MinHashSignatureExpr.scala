package graft.plans

import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, LongType}

import graft.operators.MinHashLSH

/** Native MinHash signature: `array<long>` shingle hashes → `numPerm`
  * min-hash values, in one tight loop.
  *
  * This is the "drop to a custom Catalyst Expression" rung of the
  * preference ladder: the semantics ARE expressible with built-ins
  * (an aggregate + zip_with fold — kept in the test suite as this
  * kernel's equivalence reference), but the fold
  * allocates a fresh 64-element array per shingle element. Here one
  * `long[numPerm]` is updated in place — no per-element allocation —
  * by [[HashKernels.minhashSignature]], the body both eval and the
  * generated code call (the permutations are pinned in the
  * references array).
  *
  * Arithmetic is IDENTICAL to the HOF path: v = pmod(h*a + b, P) with
  * Java wrap-around multiply, so both paths produce bit-equal
  * signatures (asserted in GraftExtensionsSpec).
  */
case class MinHashSignature(child: Expression, numPerm: Int, seed: Long)
    extends UnaryExpression {

  @transient private lazy val perms = MinHashLSH.permutations(numPerm, seed)
  @transient private lazy val aArr: Array[Long] = perms.map(_._1).toArray
  @transient private lazy val bArr: Array[Long] = perms.map(_._2).toArray

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "minhash_sig"

  override def nullSafeEval(input: Any): Any =
    HashKernels.minhashSignature(input.asInstanceOf[ArrayData], aArr, bArr)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val aRef = ctx.addReferenceObj("minhashA", aArr, "long[]")
    val bRef = ctx.addReferenceObj("minhashB", bArr, "long[]")
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.plans.HashKernels.minhashSignature($c, $aRef, $bRef);")
  }

  override protected def withNewChildInternal(newChild: Expression): MinHashSignature =
    copy(child = newChild)
}
