package graft.plans

import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, LongType}

/** Native 64-bit SimHash over an `array<long>` of token hashes: one
  * pass, 64 in-place counters, codegen'd — replaces an
  * aggregate(zip_with) fold that allocates a 64-element array per
  * token. Bit-equal to that fold's counter/threshold semantics
  * (counter > 0 sets the bit; the fold is the test reference).
  */
case class SimHash64(child: Expression)
    extends UnaryExpression {

  override def dataType: DataType = LongType
  override def prettyName: String = "simhash64"

  override def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[ArrayData]
    val cnt = new Array[Int](64)
    var i = 0
    val n = arr.numElements()
    while (i < n) {
      val h = arr.getLong(i)
      var b = 0
      while (b < 64) {
        if (((h >>> b) & 1L) == 1L) cnt(b) += 1 else cnt(b) -= 1
        b += 1
      }
      i += 1
    }
    var fp = 0L
    var b = 0
    while (b < 64) {
      if (cnt(b) > 0) fp |= (1L << b)
      b += 1
    }
    fp
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => {
      val cnt = ctx.freshName("cnt")
      val i = ctx.freshName("i")
      val b = ctx.freshName("b")
      val h = ctx.freshName("h")
      val fp = ctx.freshName("fp")
      s"""
         |int[] $cnt = new int[64];
         |for (int $i = 0; $i < $c.numElements(); $i++) {
         |  long $h = $c.getLong($i);
         |  for (int $b = 0; $b < 64; $b++) {
         |    if ((($h >>> $b) & 1L) == 1L) $cnt[$b]++; else $cnt[$b]--;
         |  }
         |}
         |long $fp = 0L;
         |for (int $b = 0; $b < 64; $b++) {
         |  if ($cnt[$b] > 0) $fp |= (1L << $b);
         |}
         |${ev.value} = $fp;
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): SimHash64 =
    copy(child = newChild)
}
