package graft.functions

import org.apache.spark.sql.{Column, ExpressionColumn}
import org.apache.spark.sql.ExpressionColumn.expression
import org.apache.spark.sql.functions._

import graft.plans.{VecDot, VecL2Sq}

/** Dense-vector math over `array<float>` embedding columns, on graft's
  * native codegen'd kernels ([[graft.plans.VecDot]]/[[graft.plans.VecL2Sq]]):
  * one tight Java loop per row, where the equivalent higher-order
  * functions (`zip_with`/`aggregate`) evaluate interpreted with a
  * per-row zipped-array allocation. That matters because the dot
  * product is the inner loop of every ANN/near-dup query
  * (|pairs| × dim multiplies).
  *
  * The kernels widen floats element-wise to double and fold
  * left-to-right from 0.0 — bit-equal to the `zip_with`/`aggregate`
  * fold (GraftExtensionsSpec); a length mismatch yields null. */
object VectorFunctions {

  private def constArray(v: Array[Double]): Column = array(v.map(lit).toSeq: _*)

  def dot(a: Column, b: Column): Column =
    ExpressionColumn(VecDot(expression(a), expression(b)))

  def norm(a: Column): Column = sqrt(dot(a, a))

  def cosine(a: Column, b: Column): Column =
    dot(a, b) / (norm(a) * norm(b))

  /** Signed projection against a constant hyperplane (for LSH). */
  def dotConst(a: Column, plane: Array[Double]): Column = dot(a, constArray(plane))

  /** Squared L2 distance to a constant centroid (for IVF assignment). */
  def l2sqConst(a: Column, cent: Array[Double]): Column =
    ExpressionColumn(VecL2Sq(expression(a), expression(constArray(cent))))
}
