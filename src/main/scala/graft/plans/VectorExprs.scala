package graft.plans

import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType}

/** Native dense-vector kernels over `array<float>`/`array<double>`,
  * which [[graft.functions.VectorFunctions]] builds.
  *
  * The portable form is an `aggregate(zip_with(...))` higher-order
  * function (kept in GraftExtensionsSpec as these kernels' reference)
  * — correct, but HOFs evaluate interpreted (no whole-stage codegen)
  * and allocate a zipped array per row. For ANN/near-dup queries the
  * dot product IS the hot loop (|pairs| × dim multiplies), so these
  * expressions compile it to one tight Java loop with zero allocation.
  *
  * Unlike the [[HashKernels]] kernels, the fold is written twice, in
  * `nullSafeEval` and in the generated code: the loop's cost is its
  * per-element `ArrayData` reads, and only per-query generated code
  * keeps those call sites monomorphic. One shared Scala body sees
  * `UnsafeArrayData`, `ColumnarArray` and `GenericArrayData` across
  * queries, its reads become virtual calls, and the all-pairs cosine
  * query q89 ran 40–50% slower that way. GraftExtensionsSpec runs
  * both copies over the same rows and requires equal results.
  *
  * Fold order is left-to-right from +0.0 with each element widened to
  * double first — IDENTICAL floating-point semantics to the HOF path,
  * so both paths produce bit-equal doubles (asserted in
  * GraftExtensionsSpec). Null semantics also mirror the HOF form:
  * mismatched lengths or a null element yield null (zip_with pads the
  * shorter side with null, which nulls the fold).
  */
abstract class VecBinaryFold extends BinaryExpression {
  import VecBinaryFold.isFloat

  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true

  protected def combineJava(x: String, y: String): String
  protected def combineScala(x: Double, y: Double): Double

  override def nullSafeEval(l: Any, r: Any): Any = {
    val a = l.asInstanceOf[ArrayData]
    val b = r.asInstanceOf[ArrayData]
    val n = a.numElements()
    if (n != b.numElements()) return null
    val af = isFloat(left)
    val bf = isFloat(right)
    var s = 0.0
    var i = 0
    while (i < n) {
      if (a.isNullAt(i) || b.isNullAt(i)) return null
      val x = if (af) a.getFloat(i).toDouble else a.getDouble(i)
      val y = if (bf) b.getFloat(i).toDouble else b.getDouble(i)
      s += combineScala(x, y)
      i += 1
    }
    s
  }

  private def getter(c: String, idx: String, float: Boolean): String =
    if (float) s"(double) $c.getFloat($idx)" else s"$c.getDouble($idx)"

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (c1, c2) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val s = ctx.freshName("s")
      val x = ctx.freshName("x")
      val y = ctx.freshName("y")
      s"""
         |int $n = $c1.numElements();
         |if ($n != $c2.numElements()) {
         |  ${ev.isNull} = true;
         |} else {
         |  double $s = 0.0;
         |  for (int $i = 0; $i < $n; $i++) {
         |    if ($c1.isNullAt($i) || $c2.isNullAt($i)) { ${ev.isNull} = true; break; }
         |    double $x = ${getter(c1, i, isFloat(left))};
         |    double $y = ${getter(c2, i, isFloat(right))};
         |    $s += ${combineJava(x, y)};
         |  }
         |  if (!${ev.isNull}) ${ev.value} = $s;
         |}
       """.stripMargin
    })
}

object VecBinaryFold {
  /** True for an `array<float>` vector; the vector and PQ kernels read
    * any other vector as `array<double>`. */
  private[plans] def isFloat(e: Expression): Boolean = e.dataType match {
    case ArrayType(FloatType, _) => true
    case _ => false
  }
}

/** Σ xᵢ·yᵢ — the ANN hot loop (cosine numerator; norm via vec_dot(a,a)). */
case class VecDot(left: Expression, right: Expression) extends VecBinaryFold {
  override def prettyName: String = "vec_dot"
  override protected def combineJava(x: String, y: String): String = s"$x * $y"
  override protected def combineScala(x: Double, y: Double): Double = x * y
  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): VecDot =
    copy(left = newLeft, right = newRight)
}

/** Σ (xᵢ−yᵢ)² — squared L2 distance (IVF centroid assignment). */
case class VecL2Sq(left: Expression, right: Expression) extends VecBinaryFold {
  override def prettyName: String = "vec_l2sq"
  override protected def combineJava(x: String, y: String): String = s"($x - $y) * ($x - $y)"
  override protected def combineScala(x: Double, y: Double): Double = (x - y) * (x - y)
  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): VecL2Sq =
    copy(left = newLeft, right = newRight)
}
