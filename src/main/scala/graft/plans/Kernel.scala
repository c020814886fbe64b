package graft.plans

import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, TernaryExpression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodeGenerator, CodegenContext, ExprCode}
import org.apache.spark.sql.types.DataType

/** One row of graft's kernel table (the `graft.plans` package object):
  * a one-line kernel, as Catalyst sees it. `name` is its SQL name and
  * `prettyName`; `body` is the static Java method generated code calls,
  * and the row's Scala function is the call interpreted eval makes to
  * that same method (GraftExtensionsSpec runs both and requires equal
  * rows). A row that is not `nullable` is null only where an argument
  * is; a `nullable` row's body returns null (boxed for a primitive
  * result) where its value is null.
  *
  * Rows compare by name, so equal calls of one kernel are
  * `semanticEquals` and calls of two kernels never are. A row applied
  * to its arguments is a [[KernelExpression]].
  */
sealed abstract class Kernel(val name: String, val dataType: DataType,
    val nullable: Boolean, body: String) extends Serializable {

  /** The expression class of this row's calls, for the SQL registry. */
  def exprClass: Class[_ <: Expression]

  /** This row applied to the arguments of a SQL call; a call with
    * another number of arguments than the row takes fails analysis. */
  def build(args: Seq[Expression]): Expression

  /** `args`, checked to number `n` (Spark's WRONG_NUM_ARGS otherwise). */
  protected def arity(n: Int, args: Seq[Expression]): Seq[Expression] =
    GraftExtensions.checkArity(name, n, args)

  /** The generated statement computing `ev` from the argument values. */
  def code(ctx: CodegenContext, ev: ExprCode, args: String*): String = {
    val call = s"$body(${args.mkString(", ")})"
    if (!nullable) s"${ev.value} = $call;"
    else {
      val r = ctx.freshName("result")
      s"""${CodeGenerator.boxedType(dataType)} $r = $call;
         |if ($r == null) { ${ev.isNull} = true; } else { ${ev.value} = $r; }""".stripMargin
    }
  }

  override def equals(o: Any): Boolean = o match {
    case k: Kernel => k.name == name
    case _ => false
  }
  override def hashCode: Int = name.hashCode
  override def toString: String = name
}

final class Kernel1[A](name: String, dataType: DataType, body: String,
    nullable: Boolean = false)(f: A => Any)
    extends Kernel(name, dataType, nullable, body) {
  def apply(child: Expression): Expression = UnaryKernel(this, child)
  def eval(a: Any): Any = f(a.asInstanceOf[A])
  def exprClass: Class[_ <: Expression] = classOf[UnaryKernel]
  def build(args: Seq[Expression]): Expression = apply(arity(1, args).head)
}

final class Kernel2[A, B](name: String, dataType: DataType, body: String,
    nullable: Boolean = false)(f: (A, B) => Any)
    extends Kernel(name, dataType, nullable, body) {
  def apply(left: Expression, right: Expression): Expression = BinaryKernel(this, left, right)
  def eval(a: Any, b: Any): Any = f(a.asInstanceOf[A], b.asInstanceOf[B])
  def exprClass: Class[_ <: Expression] = classOf[BinaryKernel]
  def build(args: Seq[Expression]): Expression =
    arity(2, args) match { case Seq(a, b) => apply(a, b) }
}

final class Kernel3[A, B, C](name: String, dataType: DataType, body: String,
    nullable: Boolean = false)(f: (A, B, C) => Any)
    extends Kernel(name, dataType, nullable, body) {
  def apply(first: Expression, second: Expression, third: Expression): Expression =
    TernaryKernel(this, first, second, third)
  def eval(a: Any, b: Any, c: Any): Any =
    f(a.asInstanceOf[A], b.asInstanceOf[B], c.asInstanceOf[C])
  def exprClass: Class[_ <: Expression] = classOf[TernaryKernel]
  def build(args: Seq[Expression]): Expression =
    arity(3, args) match { case Seq(a, b, c) => apply(a, b, c) }
}

/** A call of a [[Kernel]] row. It keeps the arity class's null-safe
  * eval and codegen templates, and prints as `name(children)`, the
  * explain text of a hand-written kernel class. */
sealed trait KernelExpression extends Expression {
  def kernel: Kernel
  override def dataType: DataType = kernel.dataType
  override def nullable: Boolean = kernel.nullable || children.exists(_.nullable)
  override def prettyName: String = kernel.name
  override protected def stringArgs: Iterator[Any] = children.iterator
}

case class UnaryKernel(kernel: Kernel1[_], child: Expression)
    extends UnaryExpression with KernelExpression {
  override def nullSafeEval(a: Any): Any = kernel.eval(a)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a => kernel.code(ctx, ev, a))
  override protected def withNewChildInternal(newChild: Expression): UnaryKernel =
    copy(child = newChild)
}

case class BinaryKernel(kernel: Kernel2[_, _], left: Expression, right: Expression)
    extends BinaryExpression with KernelExpression {
  override def nullSafeEval(a: Any, b: Any): Any = kernel.eval(a, b)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => kernel.code(ctx, ev, a, b))
  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): BinaryKernel =
    copy(left = newLeft, right = newRight)
}

case class TernaryKernel(kernel: Kernel3[_, _, _], first: Expression,
    second: Expression, third: Expression)
    extends TernaryExpression with KernelExpression {
  override def nullSafeEval(a: Any, b: Any, c: Any): Any = kernel.eval(a, b, c)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b, c) => kernel.code(ctx, ev, a, b, c))
  override protected def withNewChildrenInternal(newFirst: Expression,
      newSecond: Expression, newThird: Expression): TernaryKernel =
    copy(first = newFirst, second = newSecond, third = newThird)
}
