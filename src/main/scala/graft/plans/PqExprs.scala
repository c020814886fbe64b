package graft.plans

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._

/** Product-quantization kernels (Jégou et al., "Product Quantization
  * for Nearest Neighbor Search", TPAMI 2011 — the IVF-PQ design every
  * large-scale ANN system uses).
  *
  * `pq_encode(vec, codebook)` maps a dim-D vector to `m` small integer
  * codes (argmin sub-centroid per subspace) — a 32×+ compression of
  * float embeddings, computed row-local. `pq_adc(codes, table)` is the
  * asymmetric-distance scan: the query's per-(subspace, code) inner
  * products are precomputed ONCE into a (m·ksub)-entry table, and each
  * row's approximate score is m table lookups — no per-row float
  * vector math at all. Both are the hot loop of a PQ scan, hence
  * native codegen'd expressions with the codebook/table pinned in the
  * references array ([[VecBinaryFold]] precedent), called by
  * [[graft.operators.Pq]]; bit-equality with the per-subspace argmin
  * and the HOF table fold is asserted in GraftExtensionsSpec. Like
  * [[VecBinaryFold]], each loop is written for eval and for the
  * generated code, which keeps the per-element reads monomorphic per
  * query; GraftExtensionsSpec requires the two to agree row for row.
  */
abstract class PqExpr extends BinaryExpression {
  override def nullable: Boolean = true

  /** Constant argument (codebook / ADC table) as a pinned double[]. */
  protected def constDoubles(e: Expression): Array[Double] = {
    val ad = e.eval().asInstanceOf[ArrayData]
    ad.toDoubleArray()
  }
}

/** `pq_encode(vec, codebook, m, ksub)` → array<int> of length m.
  * codebook is a foldable flat array<double> laid out
  * [subspace][code][component], length m·ksub·dsub with
  * dsub = dim/m. Ties break to the lowest code; a vector whose length
  * isn't m·dsub (ragged row) or containing nulls yields null. */
case class PqEncode(vec: Expression, codebook: Expression, m: Int, ksub: Int)
    extends PqExpr {
  require(codebook.foldable, "pq_encode: codebook must be a literal")
  require(m > 0 && ksub > 0, "pq_encode: m and ksub must be positive")

  override def left: Expression = vec
  override def right: Expression = codebook
  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override def prettyName: String = "pq_encode"

  override def checkInputDataTypes(): TypeCheckResult = (vec.dataType, codebook.dataType) match {
    case (ArrayType(FloatType | DoubleType, _), ArrayType(DoubleType, _)) =>
      TypeCheckResult.TypeCheckSuccess
    case (l, r) => TypeCheckResult.TypeCheckFailure(
      s"expects (array<float|double>, array<double>), got (${l.sql}, ${r.sql})")
  }

  @transient private lazy val cb: Array[Double] = {
    val a = constDoubles(codebook)
    require(a.length % (m * ksub) == 0,
      s"codebook length ${a.length} not divisible by m*ksub=${m * ksub}")
    a
  }
  @transient private lazy val dsub: Int = cb.length / (m * ksub)

  override def nullSafeEval(v: Any, c: Any): Any = {
    val arr = v.asInstanceOf[ArrayData]
    if (arr.numElements() != m * dsub) return null
    val f = VecBinaryFold.isFloat(vec)
    val codes = new Array[Int](m)
    var j = 0
    while (j < m) {
      var best = 0
      var bestD = Double.MaxValue
      var c2 = 0
      while (c2 < ksub) {
        val base = (j * ksub + c2) * dsub
        var d = 0.0
        var t = 0
        while (t < dsub) {
          val i = j * dsub + t
          if (arr.isNullAt(i)) return null
          val x = if (f) arr.getFloat(i).toDouble else arr.getDouble(i)
          val diff = x - cb(base + t)
          d += diff * diff
          t += 1
        }
        if (d < bestD) { bestD = d; best = c2 }
        c2 += 1
      }
      codes(j) = best
      j += 1
    }
    new GenericArrayData(codes)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val cbRef = ctx.addReferenceObj("pqCodebook", cb, "double[]")
    nullSafeCodeGen(ctx, ev, (v, _) => {
      val codes = ctx.freshName("codes")
      val j = ctx.freshName("j")
      val c = ctx.freshName("c")
      val t = ctx.freshName("t")
      val d = ctx.freshName("d")
      val x = ctx.freshName("x")
      val diff = ctx.freshName("diff")
      val best = ctx.freshName("best")
      val bestD = ctx.freshName("bestD")
      val base = ctx.freshName("base")
      val getX =
        if (VecBinaryFold.isFloat(vec)) s"(double) $v.getFloat($j * $dsub + $t)"
        else s"$v.getDouble($j * $dsub + $t)"
      s"""
         |if ($v.numElements() != ${m * dsub}) { ${ev.isNull} = true; } else {
         |  int[] $codes = new int[$m];
         |  for (int $j = 0; $j < $m && !${ev.isNull}; $j++) {
         |    int $best = 0; double $bestD = Double.MAX_VALUE;
         |    for (int $c = 0; $c < $ksub; $c++) {
         |      int $base = ($j * $ksub + $c) * $dsub;
         |      double $d = 0.0;
         |      for (int $t = 0; $t < $dsub; $t++) {
         |        if ($v.isNullAt($j * $dsub + $t)) { ${ev.isNull} = true; break; }
         |        double $x = $getX;
         |        double $diff = $x - $cbRef[$base + $t];
         |        $d += $diff * $diff;
         |      }
         |      if (${ev.isNull}) break;
         |      if ($d < $bestD) { $bestD = $d; $best = $c; }
         |    }
         |    $codes[$j] = $best;
         |  }
         |  if (!${ev.isNull}) {
         |    ${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData($codes);
         |  }
         |}
       """.stripMargin
    })
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): PqEncode =
    copy(vec = newLeft, codebook = newRight)
}

/** `pq_adc(codes, table, ksub)` → double: Σⱼ table[j·ksub + codes[j]].
  * table is the query's foldable per-(subspace, code) score table
  * (length m·ksub). A code outside [0, ksub) or a codes array whose
  * length disagrees with the table yields null. */
case class PqAdc(codes: Expression, table: Expression, ksub: Int)
    extends PqExpr {
  require(table.foldable, "pq_adc: table must be a literal")
  require(ksub > 0, "pq_adc: ksub must be positive")

  override def left: Expression = codes
  override def right: Expression = table
  override def dataType: DataType = DoubleType
  override def prettyName: String = "pq_adc"

  override def checkInputDataTypes(): TypeCheckResult = (codes.dataType, table.dataType) match {
    case (ArrayType(IntegerType, _), ArrayType(DoubleType, _)) =>
      TypeCheckResult.TypeCheckSuccess
    case (l, r) => TypeCheckResult.TypeCheckFailure(
      s"expects (array<int>, array<double>), got (${l.sql}, ${r.sql})")
  }

  @transient private lazy val tbl: Array[Double] = {
    val a = constDoubles(table)
    require(a.length % ksub == 0, s"table length ${a.length} not divisible by ksub=$ksub")
    a
  }
  @transient private lazy val m: Int = tbl.length / ksub

  override def nullSafeEval(c: Any, t: Any): Any = {
    val arr = c.asInstanceOf[ArrayData]
    if (arr.numElements() != m) return null
    var s = 0.0
    var j = 0
    while (j < m) {
      if (arr.isNullAt(j)) return null
      val code = arr.getInt(j)
      if (code < 0 || code >= ksub) return null
      s += tbl(j * ksub + code)
      j += 1
    }
    s
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val tblRef = ctx.addReferenceObj("adcTable", tbl, "double[]")
    nullSafeCodeGen(ctx, ev, (c, _) => {
      val s = ctx.freshName("s")
      val j = ctx.freshName("j")
      val code = ctx.freshName("code")
      s"""
         |if ($c.numElements() != $m) { ${ev.isNull} = true; } else {
         |  double $s = 0.0;
         |  for (int $j = 0; $j < $m; $j++) {
         |    if ($c.isNullAt($j)) { ${ev.isNull} = true; break; }
         |    int $code = $c.getInt($j);
         |    if ($code < 0 || $code >= $ksub) { ${ev.isNull} = true; break; }
         |    $s += $tblRef[$j * $ksub + $code];
         |  }
         |  if (!${ev.isNull}) ${ev.value} = $s;
         |}
       """.stripMargin
    })
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): PqAdc =
    copy(codes = newLeft, table = newRight)
}
