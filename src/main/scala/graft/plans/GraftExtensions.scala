package graft.plans

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

/** Session extension registering graft's native expressions as SQL
  * functions (`spark.sql.extensions=graft.plans.GraftExtensions`), one
  * per entry of [[GraftExtensions.functions]]: `minhash_sig(array<long>)`
  * (64 permutations, seed 42), `simhash64`, `vec_dot`,
  * `bloom_might_contain`, the text kernels and the rest.
  *
  * The registration serves SQL callers only. Library operators build
  * each kernel as its case class through
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

  /** (SQL name, expression class, builder) of every registered function. */
  val functions: Seq[(String, Class[_ <: Expression], Seq[Expression] => Expression)] = Seq(
    ("minhash_sig", classOf[MinHashSignature], a => MinHashSignature(a.head, 64, 42L)),
    ("simhash64", classOf[SimHash64], a => SimHash64(a.head)),
    ("simhash128", classOf[SimHash128], a => SimHash128(a.head)),
    ("simhash128w", classOf[SimHash128Weighted], a => SimHash128Weighted(a(0), a(1))),
    ("shingle_hashes", classOf[ShingleHashes], a => ShingleHashes(a(0), a(1))),
    ("window_hashes", classOf[WindowHashes], a => WindowHashes(a(0), a(1))),
    ("pq_encode", classOf[PqEncode], a => PqEncode(a(0), a(1), int(a(2)), int(a(3)))),
    ("pq_adc", classOf[PqAdc], a => PqAdc(a(0), a(1), int(a(2)))),
    ("bloom_might_contain", classOf[BloomMightContain], a => BloomMightContain(a(0), a(1))),
    ("cms_estimate", classOf[CmsEstimate], a => CmsEstimate(a(0), a(1))),
    ("text_scores", classOf[TextScoresExpr], a => TextScoresExpr(a.head)),
    ("text_full_stats", classOf[TextFullStatsExpr], a => TextFullStatsExpr(a.head)),
    ("text_rep_scores", classOf[TextRepScoresExpr], a => TextRepScoresExpr(a.head)),
    ("token_count", classOf[TokenCountExpr], a => TokenCountExpr(a.head)),
    ("fingerprint_md5", classOf[FingerprintMd5Expr], a => FingerprintMd5Expr(a.head)),
    ("classifier_milli", classOf[ClassifierMilliExpr], a => ClassifierMilliExpr(a(0), a(1))),
    ("array_pmod", classOf[ArrayPmodExpr], a => ArrayPmodExpr(a(0), a(1))),
    ("token_hashes", classOf[TokenHashesExpr], a => TokenHashesExpr(a.head)),
    ("pii_scan", classOf[PiiScanExpr], a => PiiScanExpr(a.head)),
    ("json_long", classOf[JsonLongExpr], a => JsonLongExpr(a(0), a(1))),
    ("json_scan", classOf[JsonScanExpr], a => JsonScanExpr(a(0), a(1))),
    ("safe_long", classOf[SafeLongExpr], a => SafeLongExpr(a.head)),
    ("safe_double", classOf[SafeDoubleExpr], a => SafeDoubleExpr(a.head)),
    ("chunk_hashes", classOf[ChunkHashesExpr], a => ChunkHashesExpr(a(0), a(1))),
    ("gram_buckets", classOf[GramBucketsExpr], a => GramBucketsExpr(a(0), a(1))),
    ("classifier_weighted", classOf[ClassifierWeightedExpr],
      a => ClassifierWeightedExpr(a(0), a(1))),
    ("subword_count", classOf[SubwordCountExpr], a => SubwordCountExpr(a(0), a(1), a(2))),
    ("drop_token_spans", classOf[DropTokenSpansExpr],
      a => DropTokenSpansExpr(a(0), a(1), a(2))),
    ("text_gate", classOf[TextGateExpr], a => TextGateExpr(a(0), a(1), a(2))),
    ("vec_dot", classOf[VecDot], a => VecDot(a(0), a(1))),
    ("vec_l2sq", classOf[VecL2Sq], a => VecL2Sq(a(0), a(1))))

  /** True when the active session registered graft's SQL functions. */
  def nativeAvailable: Boolean =
    org.apache.spark.sql.SparkSession.getActiveSession
      .exists(_.catalog.functionExists("minhash_sig"))
}
