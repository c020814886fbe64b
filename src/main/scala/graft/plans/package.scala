package graft

import org.apache.spark.sql.types.{ArrayType, BooleanType, DoubleType, LongType}

/** graft's native Catalyst kernels.
  *
  * The one-line kernels are the rows below: each names its SQL
  * function, result type and body, a method of [[plans.HashKernels]],
  * [[plans.TextKernels]] or [[plans.TextScores]] whose scaladoc gives
  * the kernel's contract. A row builds its calls (`SimHash64(c)`), and
  * [[plans.GraftExtensions]] registers every row of [[kernels]] as a SQL
  * function. The kernels that pin objects in generated code
  * (MinHashSignature, BloomMightContain, CmsEstimate) and the vector
  * and PQ kernels, whose loops live in generated code, are classes of
  * their own.
  */
package object plans {

  private val Longs = ArrayType(LongType, containsNull = false)

  val SimHash64 = new Kernel1("simhash64", LongType,
    "graft.plans.HashKernels.simhash64")(HashKernels.simhash64)
  val SimHash128 = new Kernel1("simhash128", Longs,
    "graft.plans.HashKernels.simhash128")(HashKernels.simhash128)
  val SimHash128Weighted = new Kernel2("simhash128w", Longs,
    "graft.plans.HashKernels.simhash128Weighted", nullable = true)(HashKernels.simhash128Weighted)
  val ShingleHashes = new Kernel2("shingle_hashes", Longs,
    "graft.plans.HashKernels.shingleHashes")(HashKernels.shingleHashes)
  val WindowHashes = new Kernel2("window_hashes", Longs,
    "graft.plans.HashKernels.windowHashes")(HashKernels.windowHashes)

  val TextScoresExpr = new Kernel1("text_scores", TextScores.Schema,
    "graft.plans.TextScores.compute")(TextScores.compute)
  val TextFullStatsExpr = new Kernel1("text_full_stats", TextScores.FullSchema,
    "graft.plans.TextScores.computeFull")(TextScores.computeFull)
  val TextGateExpr = new Kernel3("text_gate", BooleanType,
    "graft.plans.TextScores.gate")(TextScores.gate)

  val TextRepScoresExpr = new Kernel1("text_rep_scores", TextKernels.RepSchema,
    "graft.plans.TextKernels.repScores")(TextKernels.repScores)
  val TokenCountExpr = new Kernel1("token_count", LongType,
    "graft.plans.TextKernels.tokenCount")(TextKernels.tokenCount)
  val FingerprintMd5Expr = new Kernel1("fingerprint_md5", LongType,
    "graft.plans.TextKernels.fingerprintMd5")(TextKernels.fingerprintMd5)
  val ClassifierMilliExpr = new Kernel2("classifier_milli", LongType,
    "graft.plans.TextKernels.classifierMilli")(TextKernels.classifierMilli)
  val PiiScanExpr = new Kernel1("pii_scan", TextKernels.PiiSchema,
    "graft.plans.TextKernels.piiScan")(TextKernels.piiScan)
  val JsonLongExpr = new Kernel2("json_long", LongType,
    "graft.plans.TextKernels.jsonLong", nullable = true)(TextKernels.jsonLong)
  val JsonScanExpr = new Kernel2("json_scan", TextKernels.JsonScanSchema,
    "graft.plans.TextKernels.jsonScan")(TextKernels.jsonScan)
  val SafeLongExpr = new Kernel1("safe_long", LongType,
    "graft.plans.TextKernels.safeLong", nullable = true)(TextKernels.safeLong)
  val SafeDoubleExpr = new Kernel1("safe_double", DoubleType,
    "graft.plans.TextKernels.safeDouble", nullable = true)(TextKernels.safeDouble)
  val ArrayPmodExpr = new Kernel2("array_pmod", Longs,
    "graft.plans.TextKernels.arrayPmod")(TextKernels.arrayPmod)
  val TokenHashesExpr = new Kernel1("token_hashes", Longs,
    "graft.plans.TextKernels.tokenHashes")(TextKernels.tokenHashes)
  val ChunkHashesExpr = new Kernel2("chunk_hashes", Longs,
    "graft.plans.TextKernels.chunkHashes")(TextKernels.chunkHashes)
  val GramBucketsExpr = new Kernel2("gram_buckets", Longs,
    "graft.plans.TextKernels.gramBuckets")(TextKernels.gramBuckets)
  val ClassifierWeightedExpr = new Kernel2("classifier_weighted", LongType,
    "graft.plans.TextKernels.classifierWeighted")(TextKernels.classifierWeighted)
  val SubwordCountExpr = new Kernel3("subword_count", LongType,
    "graft.plans.TextKernels.subwordCount")(TextKernels.subwordCount)
  val DropTokenSpansExpr = new Kernel3("drop_token_spans", TextKernels.DropSchema,
    "graft.plans.TextKernels.dropTokenSpans")(TextKernels.dropTokenSpans)

  /** Every row of the table. */
  val kernels: Seq[Kernel] = Seq(
    SimHash64, SimHash128, SimHash128Weighted, ShingleHashes, WindowHashes,
    TextScoresExpr, TextFullStatsExpr, TextGateExpr,
    TextRepScoresExpr, TokenCountExpr, FingerprintMd5Expr, ClassifierMilliExpr,
    PiiScanExpr, JsonLongExpr, JsonScanExpr, SafeLongExpr, SafeDoubleExpr,
    ArrayPmodExpr, TokenHashesExpr, ChunkHashesExpr, GramBucketsExpr,
    ClassifierWeightedExpr, SubwordCountExpr, DropTokenSpansExpr)
}
