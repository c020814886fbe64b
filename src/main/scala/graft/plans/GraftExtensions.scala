package graft.plans

import org.apache.spark.sql.SparkSessionExtensions
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

  /** (SQL name, expression class, builder) of every registered function. */
  val functions: Seq[Registration] = Seq[Registration](
    ("minhash_sig", classOf[MinHashSignature], a => MinHashSignature(a.head, 64, 42L)),
    ("pq_encode", classOf[PqEncode], a => PqEncode(a(0), a(1), int(a(2)), int(a(3)))),
    ("pq_adc", classOf[PqAdc], a => PqAdc(a(0), a(1), int(a(2)))),
    ("bloom_might_contain", classOf[BloomMightContain], a => BloomMightContain(a(0), a(1))),
    ("cms_estimate", classOf[CmsEstimate], a => CmsEstimate(a(0), a(1))),
    ("vec_dot", classOf[VecDot], a => VecDot(a(0), a(1))),
    ("vec_l2sq", classOf[VecL2Sq], a => VecL2Sq(a(0), a(1)))) ++
    kernels.map(k => (k.name, k.exprClass, k.build _))

  /** True when the active session registered graft's SQL functions. */
  def nativeAvailable: Boolean =
    org.apache.spark.sql.SparkSession.getActiveSession
      .exists(_.catalog.functionExists("minhash_sig"))
}
