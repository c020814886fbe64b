package graft.plans

import org.apache.spark.SPARK_DOC_ROOT
import org.apache.spark.sql.{AnalysisException, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

/** Session extension registering graft's native expressions as SQL
  * functions (`spark.sql.extensions=graft.plans.GraftExtensions`), one
  * per entry of [[GraftExtensions.functions]]: `minhash_sig(array<long>)`
  * (64 permutations, seed 42), the vector, PQ, bloom and CMS kernels,
  * and every row of the kernel table ([[graft.plans.kernels]]:
  * `simhash64`, the text kernels and the rest).
  *
  * The registration serves SQL callers only. Library operators build
  * each kernel as its expression through
  * [[org.apache.spark.sql.ExpressionColumn]], so every kernel has one
  * implementation and library results do not depend on whether a
  * session registered the extension.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit =
    GraftExtensions.functions.foreach { case (name, cls, build) =>
      ext.injectFunction((FunctionIdentifier(name),
        new ExpressionInfo(cls.getName, name), build))
    }
}

object GraftExtensions {

  private def int(e: Expression): Int = e.eval().asInstanceOf[Int]

  type Registration = (String, Class[_ <: Expression], Seq[Expression] => Expression)

  /** `args` of a SQL call of `name`, which takes `n`: any other count
    * fails analysis with Spark's WRONG_NUM_ARGS error, as a built-in
    * function's call does. */
  private[plans] def checkArity(name: String, n: Int,
      args: Seq[Expression]): Seq[Expression] =
    if (args.length == n) args
    else throw new AnalysisException("WRONG_NUM_ARGS.WITHOUT_SUGGESTION", Map(
      "functionName" -> s"`$name`", "expectedNum" -> n.toString,
      "actualNum" -> args.length.toString, "docroot" -> SPARK_DOC_ROOT))

  /** The registration of `name`, taking `n` arguments. */
  private def row(name: String, cls: Class[_ <: Expression], n: Int)(
      build: Seq[Expression] => Expression): Registration =
    (name, cls, args => build(checkArity(name, n, args)))

  /** (SQL name, expression class, builder) of every registered function. */
  val functions: Seq[Registration] = Seq[Registration](
    row("minhash_sig", classOf[MinHashSignature], 1)(a => MinHashSignature(a(0), 64, 42L)),
    row("pq_encode", classOf[PqEncode], 4)(a => PqEncode(a(0), a(1), int(a(2)), int(a(3)))),
    row("pq_adc", classOf[PqAdc], 3)(a => PqAdc(a(0), a(1), int(a(2)))),
    row("bloom_might_contain", classOf[BloomMightContain], 2)(a => BloomMightContain(a(0), a(1))),
    row("cms_estimate", classOf[CmsEstimate], 2)(a => CmsEstimate(a(0), a(1))),
    row("vec_dot", classOf[VecDot], 2)(a => VecDot(a(0), a(1))),
    row("vec_l2sq", classOf[VecL2Sq], 2)(a => VecL2Sq(a(0), a(1)))) ++
    kernels.map(k => (k.name, k.exprClass, k.build _))

  /** True when the active session registered graft's SQL functions. */
  def nativeAvailable: Boolean =
    org.apache.spark.sql.SparkSession.getActiveSession
      .exists(_.catalog.functionExists("minhash_sig"))
}
