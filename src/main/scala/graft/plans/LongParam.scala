package graft.plans

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.LeafExpression
import org.apache.spark.sql.catalyst.expressions.codegen.{CodeGenerator, CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.types.{DataType, LongType}

/** A `Long` that changes per call (an ETL watermark), as an expression
  * whose generated code reads it from the class's `references[]`
  * instead of inlining it like a literal. Spark caches compiled classes
  * by their source, so two plans that differ only in this value share
  * one class, where two literals would each compile one. It is not
  * foldable, so the optimizer keeps it as it is, and a predicate on it
  * is not pushed into a scan: a filter the scan must see takes a
  * literal. */
case class LongParam(value: Long) extends LeafExpression {
  override def dataType: DataType = LongType
  override def nullable: Boolean = false
  override def foldable: Boolean = false
  override def eval(input: InternalRow): Any = value

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("param", value, "java.lang.Long")
    ev.copy(code = code"final ${CodeGenerator.javaType(dataType)} ${ev.value} = $ref;",
      isNull = FalseLiteral)
  }
}
