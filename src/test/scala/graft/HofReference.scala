package graft

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.TextFunctions
import graft.operators.{Bpe, ImportanceModel, MinHashLSH, SimHash, TextDedup}

/** Higher-order-function (HOF) and join forms of graft's native
  * kernels: the references GraftExtensionsSpec and PropertySpec check
  * each kernel against. The library builds only the kernels; these
  * forms compute the same values (or, for the window hashes, the same
  * operator result) from Spark built-ins. */
object HofReference {

  /** k min-hash values as an array column — ONE fold over the shingle
    * array updating all k minima per element (k separate
    * `array_min(transform(...))` expressions would re-walk the array k
    * times and overflow whole-stage codegen's method budget, falling
    * back to interpreted eval — ~60× slower at bench scale). The
    * reference for [[graft.plans.MinHashSignature]]. */
  def signature(shingleHashCol: Column, perms: Seq[(Long, Long)]): Column = {
    val params = array(perms.map { case (a, b) =>
      struct(lit(a).as("a"), lit(b).as("b"))
    }: _*)
    aggregate(shingleHashCol,
      array_repeat(lit(MinHashLSH.Prime), perms.size),
      (acc, h) => zip_with(acc, params, (cur, p) =>
        least(cur, pmod(h * p.getField("a") + p.getField("b"), lit(MinHashLSH.Prime)))))
  }

  /** Fold form of [[graft.plans.SimHash64]]. */
  def simhash64Hof(hashes: Column): Column = {
    val bitIdx = sequence(lit(0), lit(SimHash.Bits - 1))
    // counters[b] += tokenHash bit b ? +1 : −1, one fold over tokens
    val counters = aggregate(hashes,
      array_repeat(lit(0L), SimHash.Bits),
      (acc, h) => zip_with(acc, bitIdx,
        (a, b) => a + call_function("getbit", h, b).cast("long") * lit(2L) - lit(1L)))
    // fingerprint = Σ 2^b over positive counters; 1L<<63 wraps to
    // Long.MinValue, whose bit pattern IS bit 63 (sum stays in range).
    val powers = array((0 until SimHash.Bits).map(b => lit(1L << b)): _*)
    aggregate(
      zip_with(counters, powers, (cnt, p) => when(cnt > 0, p).otherwise(lit(0L))),
      lit(0L), (acc, v) => acc + v)
  }

  /** Column form of [[TextFunctions.classifierScoreMilli]]. The token
    * array is bound once as a lambda value (the
    * [[TextFunctions.topNgramFraction]] interpreted-eval discipline) —
    * it is referenced three times (unigrams + both bigram slices). */
  def classifierScoreMilliHof(c: Column, buckets: Int = 65536): Column = {
    val scored = transform(array(TextFunctions.tokens(c)), ts => {
      val n1 = greatest(size(ts) - 1, lit(0))
      val bigrams = zip_with(slice(ts, lit(1), n1), slice(ts, lit(2), n1),
        (a, b) => concat(a, lit("_"), b))
      aggregate(concat(ts, bigrams), lit(0L), (acc, g) => {
        val bkt = TextFunctions.tokenHashMd5(g) % lit(buckets.toLong)
        acc + (bkt * lit(2654435761L) % lit(2147483648L) % lit(2001L) - lit(1000L))
      })
    })
    element_at(scored, 1)
  }

  /** Column form of [[TextFunctions.fingerprint]]. */
  def fingerprintHof(c: Column): Column = {
    val hs = transform(TextFunctions.tokens(c), TextFunctions.tokenHashMd5 _)
    aggregate(
      slice(hs, lit(2), greatest(size(hs) - 1, lit(0))),
      element_at(hs, 1),
      (acc, h) => pmod(acc * lit(31L) + h, lit(1000000007L)))
  }

  /** Column form of [[ImportanceModel.gramBuckets]]. */
  def gramBucketsHof(c: Column, buckets: Int = 65536): Column = {
    val out = transform(array(TextFunctions.tokens(c)), ts => {
      val n1 = greatest(size(ts) - 1, lit(0))
      val bigrams = zip_with(slice(ts, lit(1), n1), slice(ts, lit(2), n1),
        (a, b) => concat(a, lit("_"), b))
      transform(concat(ts, bigrams),
        g => TextFunctions.tokenHashMd5(g) % lit(buckets.toLong))
    })
    element_at(out, 1)
  }

  /** The broadcast-join form of [[ImportanceModel.score]]: explode
    * grams, BROADCAST-join the weights, one map-side-combined sum per
    * doc. */
  def scoreViaJoin(docs: DataFrame, idCol: String, textCol: String,
      weights: DataFrame, buckets: Int = 65536): DataFrame = {
    val scores = docs
      .select(col(idCol).as("__id"),
        explode(ImportanceModel.gramBuckets(col(textCol), buckets)).as("bucket"))
      .join(broadcast(weights), Seq("bucket"), "left")
      .groupBy("__id")
      .agg(sum(coalesce(col("w_milli"), lit(0L))).as("score_milli"))
    docs.join(scores, docs(idCol) === scores("__id"), "left")
      .withColumn("score_milli", coalesce(col("score_milli"), lit(0L)))
      .drop("__id")
  }

  /** Nested-fold form of [[Bpe.subwordCount]]. */
  def subwordCountHof(docs: DataFrame, textCol: String, merges: Seq[Bpe.Merge]): DataFrame =
    docs.withColumn("n_subwords",
      aggregate(
        filter(TextFunctions.tokens(col(textCol)), w => length(w) > 0),
        lit(0L),
        (acc, w) => {
          val merged = merges.foldLeft(Bpe.charSymbols(w)) {
            (c, m) => Bpe.applyMerge(c, m.left, m.right)
          }
          acc + size(merged).cast("long")
        }))

  /** The per-doc chunk-string array: xxhash64 of each element is
    * [[graft.plans.ChunkHashesExpr]]'s value. */
  def chunkArray(textCol: String, chunkTokens: Int): Column = {
    val toks = TextFunctions.tokens(col(textCol))
    val nChunks = greatest(
      ceil(size(toks).cast("double") / chunkTokens).cast("int"), lit(1))
    transform(sequence(lit(0), nChunks - 1),
      i => concat_ws(" ", slice(toks, i * chunkTokens + 1, lit(chunkTokens))))
  }

  /** [[TextDedup.chunkDedup]] with the HOF chunk rebuild in place of
    * the drop_token_spans kernel. */
  def chunkDedup(docs: DataFrame, idCol: String, textCol: String,
      chunkTokens: Int): DataFrame = {
    val chunks = chunkArray("__text", chunkTokens)
    TextDedup.chunkDrops(docs, idCol, textCol, chunkTokens, prior = null)
      .select(col(idCol), col("__drops"), chunks.as("__chunks"))
      .select(col(idCol),
        array_join(filter(col("__chunks"),
          (c, i) => !array_contains(col("__drops"), i)), " ").as(textCol),
        (size(col("__chunks")) - size(col("__drops"))).cast("long")
          .as("n_chunks_kept"),
        size(col("__chunks")).cast("long").as("n_chunks_total"))
  }

  /** The string window-hash frame: xxhash64 of each `spanTokens`-token
    * window's string — the "string" flavor, whose hash VALUES differ
    * from [[graft.plans.WindowHashes]]' while the equality classes
    * agree. */
  def stringWindowExplode(docs: DataFrame, idCol: String, textCol: String,
      spanTokens: Int): DataFrame = {
    val toks = TextFunctions.tokens(col(textCol))
    val nw = size(toks) - spanTokens + 1
    // sequence(0, nw-1) would COUNT DOWN for nw <= 0 — guard to empty
    val winIdx = when(nw > 0, sequence(lit(0), nw - 1))
      .otherwise(array().cast("array<int>"))
    val winHashes = transform(winIdx,
      i => xxhash64(concat_ws(" ", slice(toks, i + 1, lit(spanTokens)))))
    docs.select(col(idCol).as("__id"),
      posexplode(winHashes).as(Seq("pos", "__h")))
  }

  /** [[TextDedup.substringDedup]] over string window hashes, with the
    * HOF token filter in place of the drop_token_spans kernel. */
  def substringDedup(docs: DataFrame, idCol: String, textCol: String,
      spanTokens: Int): DataFrame = {
    val toks = TextFunctions.tokens(col("__text"))
    TextDedup.windowDups(docs, idCol, textCol,
        stringWindowExplode(docs, idCol, textCol, spanTokens), prior = null)
      .select(col(idCol), col("__dups"), toks.as("__toks"))
      .select(col(idCol),
        array_join(filter(col("__toks"), (t, i) =>
          !exists(col("__dups"),
            p => p <= i && i < p + spanTokens)), " ").as(textCol),
        size(filter(col("__toks"), (t, i) =>
          !exists(col("__dups"),
            p => p <= i && i < p + spanTokens))).cast("long")
          .as("n_tokens_kept"),
        size(col("__toks")).cast("long").as("n_tokens_total"))
  }
}
