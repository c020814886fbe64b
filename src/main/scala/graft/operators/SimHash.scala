package graft.operators

import org.apache.spark.sql.{Column, DataFrame, ExpressionColumn}
import org.apache.spark.sql.ExpressionColumn.expression
import org.apache.spark.sql.functions._

import graft.functions.TextFunctions
import graft.plans.{SimHash128, SimHash128Weighted, SimHash64}

/** SimHash near-duplicate fingerprinting.
  *
  * 128-bit charikar fingerprint per document over its word 3-gram
  * SHINGLE set, stored as two longs (`fp_hi`, `fp_lo`). Because the
  * charikar construction is per-bit independent, a 128-bit
  * fingerprint is exactly two independent 64-bit simhashes over two
  * independent feature-hash streams — so the native codegen'd
  * `simhash64` expression is reused per half (row-local, no UDF, no
  * shuffle).
  *
  * Features are shingles, not unigram tokens, deliberately: on a
  * small-vocabulary or template-heavy corpus every doc shares most
  * TOKENS, so token-simhash degenerates into a fingerprint of the
  * vocabulary distribution and non-duplicate docs correlate (measured
  * on the test corpus: planted-dup and random-pair Hamming ranges
  * overlap). Shingles are positional n-grams — diverse across docs —
  * which pushes random pairs to Hamming ≈ 64 of 128 (measured: 1st
  * percentile 51) while true near-dups stay under ~10. This is also
  * Manku et al.'s choice (phrase features, WWW'07).
  *
  * Near-dup candidates come from pigeonhole bucketing over the
  * fingerprint (Manku/Jain/Sarma, "Detecting Near-Duplicates for Web
  * Crawling", WWW'07 — the block-permutation scheme): cut the 128
  * bits into `maxHamming + comboSize` chunks; a pair within the
  * Hamming budget differs in ≤ maxHamming chunks, so it matches
  * EXACTLY on ≥ comboSize chunks — bucketing each doc under every
  * comboSize-subset of its chunk values (C(b, g) keys/doc) has exact
  * recall. comboSize widens the bucket key: at budget 8, g=1 gives
  * 9 keys/doc of ~14 bits (2^14 buckets — birthday-quadratic at
  * billions of docs), g=2 gives 45 keys/doc of ~25 bits (3.4e7
  * buckets — candidate volume stays ~linear in corpus size for
  * corpora whose non-duplicate docs are fingerprint-independent).
  * Pairs are verified with `bit_count(xor)` per half; never an
  * all-pairs scan.
  *
  * Residual caveat: a corpus whose docs share most SHINGLES (heavy
  * repeated boilerplate sentences) re-correlates fingerprints; the
  * mitigation is the stop-shingle filter (`maxDf` /
  * [[stopFeatureHashes]] — the cheap end of the idf-weighting family
  * Manku et al. use): shingles present in more than maxDf·N docs stop
  * voting on bits. The hot list is bounded (≤ avg-set-size / maxDf),
  * broadcasts as an in-plan literal, and the filter stays row-local;
  * similarity becomes "Hamming over non-ubiquitous content", which is
  * what boilerplate-heavy dedup wants (measured in MinHashLSHSpec's
  * template-corpus test).
  */
object SimHash {

  /** Bits per fingerprint half (one simhash64 each). */
  val Bits = 64

  /** Total fingerprint width. */
  val FpBits = 128

  private def signedFromHex16(hex: Column): Column = {
    val dec = conv(hex, 16, 10).cast("decimal(20,0)")
    when(dec >= lit(BigDecimal("9223372036854775808")),
      (dec - lit(BigDecimal("18446744073709551616"))).cast("long"))
      .otherwise(dec.cast("long"))
  }

  /** Portable signed-64 token hash from md5 (first 16 hex chars) —
    * engine-reproducible (DuckDB computes the identical value), for
    * oracle-checked simhash paths; xxhash64 stays the fast default. */
  def md5TokenHash(t: Column): Column = signedFromHex16(substring(md5(t), 1, 16))

  /** Second independent portable hash: the OTHER md5 half (hex chars
    * 17–32) — gives the 128-bit fingerprint its hi stream. */
  def md5TokenHashHi(t: Column): Column = signedFromHex16(substring(md5(t), 17, 16))

  /** 64-bit simhash of the token multiset — the native codegen'd
    * [[graft.plans.HashKernels.simhash64]] kernel. */
  def simhash64(textCol: Column,
      tokenHash: Column => Column = xxhash64(_)): Column =
    simhash64Of(transform(TextFunctions.tokens(textCol), t => tokenHash(t)))

  /** 64-bit simhash of an `array<long>` of feature hashes. */
  private def simhash64Of(hashes: Column): Column =
    ExpressionColumn(SimHash64(expression(hashes)))

  /** (doc, fp) per row — the 64-bit fingerprint (lo half of the
    * 128-bit one; kept for callers that only need a compact sketch). */
  def fingerprints(docs: DataFrame, idCol: String, textCol: String,
      tokenHash: Column => Column = xxhash64(_)): DataFrame =
    docs.select(col(idCol).as("doc"),
      simhash64(col(textCol), tokenHash).as("fp"))

  /** Lo-stream hashes of a doc's shingle features: the native
    * codegen'd window-mix over token hashes on the fast path, md5 of
    * the shingle string on the portable path. This array is the
    * canonical feature representation — the hi stream and the
    * stop-filter both derive from it. */
  private def loFeatureHashes(textCol: Column, shingleN: Int,
      portable: Boolean): Column =
    if (portable) transform(TextDedup.shingles(textCol, shingleN),
      s => md5TokenHash(s))
    else TextDedup.shingleHashes64(textCol, shingleN)

  /** Lo-hash values of shingles present in more than maxDf·nDocs
    * documents — the repeated-boilerplate features that re-correlate
    * template-corpus fingerprints (see object doc). Bounded by
    * construction (≤ avg-shingles-per-doc / maxDf values), sorted for
    * deterministic plans; compute ONCE per corpus and reuse, like a
    * pretrained quantizer. */
  def stopFeatureHashes(docs: DataFrame, textCol: String, maxDf: Double,
      shingleN: Int = 3, portable: Boolean = false): Array[Long] = {
    val n = docs.count()
    docs.select(explode(array_distinct(
        loFeatureHashes(col(textCol), shingleN, portable))).as("h"))
      .groupBy("h").agg(count(lit(1)).as("c"))
      .where(col("c") > lit(maxDf) * n)
      .collect().map(_.getLong(0)).sorted
  }

  /** Weight every feature rarer than df·2^(DefaultWeight-1) gets —
    * rare features carry the most identity signal (idf). */
  val DefaultWeight = 8

  /** Banded integer idf: the smallest k in [1, DefaultWeight] with
    * df·2^k > n — a log₂-quantized idf that both engines compute with
    * pure integer comparisons (no transcendental whose last-ulp could
    * diverge between JVM and the oracle). df > n/2 → 1 (ubiquitous
    * features barely vote), df ≤ n/2^DefaultWeight → DefaultWeight. */
  private[graft] def bandWeight(df: Long, n: Long): Int = {
    var k = 1
    var m = 2L
    while (k < DefaultWeight && df * m <= n) { k += 1; m <<= 1 }
    k
  }

  /** (featureHash → weight) for the HOT tail only — features with
    * df·2^(DefaultWeight-1) > n, the only ones whose weight differs
    * from [[DefaultWeight]]. Bounded by construction (≤ 2^(DW-1) ×
    * avg-features-per-doc entries), sorted for deterministic plans;
    * like the stop list, computed ONCE per corpus and reused — the
    * idf-weighting family's generalization of [[stopFeatureHashes]]
    * (weight 0 ≡ stopped). */
  def idfFeatureWeights(docs: DataFrame, textCol: String,
      shingleN: Int = 3, portable: Boolean = false): Array[(Long, Int)] = {
    val n = docs.count()
    docs.select(explode(array_distinct(
        loFeatureHashes(col(textCol), shingleN, portable))).as("h"))
      .groupBy("h").agg(count(lit(1)).as("c"))
      .where(col("c") * (1L << (DefaultWeight - 1)) > n)
      .collect().map(r => r.getLong(0) -> bandWeight(r.getLong(1), n))
      .sortBy(_._1)
  }

  /** Portable weighted fold: counters[b] += w · (±1) per feature bit
    * (the equivalence oracle for the native `simhash128w` kernel). */
  def simhash64WeightedHof(hashes: Column, weights: Column): Column = {
    val bitIdx = sequence(lit(0), lit(Bits - 1))
    val counters = aggregate(
      zip_with(hashes, weights, (h, w) => struct(h.as("h"), w.as("w"))),
      array_repeat(lit(0L), Bits),
      (acc, hw) => zip_with(acc, bitIdx,
        (a, b) => a + hw.getField("w") *
          (call_function("getbit", hw.getField("h"), b).cast("long") * lit(2L) - lit(1L))))
    val powers = array((0 until Bits).map(b => lit(1L << b)): _*)
    aggregate(
      zip_with(counters, powers, (cnt, p) => when(cnt > 0, p).otherwise(lit(0L))),
      lit(0L), (acc, v) => acc + v)
  }

  /** (doc, fp_hi, fp_lo) with idf-WEIGHTED bit votes: each feature's
    * ±1 votes are scaled by its banded-idf weight ([[bandWeight]]),
    * so corpus-wide boilerplate shapes the fingerprint weakly and
    * rare content dominates — the production decorrelation for
    * template-heavy corpora (the stop-list is its 0/1 quantization).
    * `hot` comes from [[idfFeatureWeights]] (pass the precomputed
    * list to keep the query path one pass); everything not listed
    * weighs [[DefaultWeight]]. Uniform weights reduce to the
    * unweighted fingerprint (positive scaling never flips a sign). */
  def fingerprints128Weighted(docs: DataFrame, idCol: String, textCol: String,
      hot: Array[(Long, Int)], portable: Boolean = false,
      shingleN: Int = 3): DataFrame = {
    // an EMPTY hot list means every feature weighs DefaultWeight —
    // uniform positive scaling never flips a vote-sum sign, so the
    // fingerprint is bit-identical to the unweighted one (spec-pinned
    // in MinHashLSHSpec's uniform-weights test): take the fused
    // simhash128 kernel and skip the per-row weight-array projection.
    // This is the salted amplified corpora's ACTUAL regime (r15 x100
    // measurement: no shingle reaches df > n/128, hot is empty) —
    // the weighted kernel path only pays when weighting can matter.
    if (hot.isEmpty)
      return fingerprints128(docs, idCol, textCol, portable, shingleN)
    val wmap = typedLit(hot.toMap)
    def wts(lo: Column): Column = transform(lo,
      h => coalesce(element_at(wmap, h), lit(DefaultWeight)).cast("long"))
    if (!portable) {
      val base = docs.select(col(idCol).as("doc"),
          TextDedup.shingleHashes64(col(textCol), shingleN).as("__lo"))
        .where(size(col("__lo")) > 0)
        .withColumn("__w", wts(col("__lo")))
      base.select(col("doc"),
          ExpressionColumn(SimHash128Weighted(
            expression(col("__lo")), expression(col("__w")))).as("__fp"))
        .select(col("doc"),
          element_at(col("__fp"), 1).as("fp_hi"),
          element_at(col("__fp"), 2).as("fp_lo"))
    } else {
      val shs = TextDedup.shingles(col(textCol), shingleN)
      docs.select(col(idCol).as("doc"),
          transform(shs, s => md5TokenHash(s)).as("__lo"),
          transform(shs, s => md5TokenHashHi(s)).as("__hi"))
        .where(size(col("__lo")) > 0)
        .withColumn("__w", wts(col("__lo")))
        .select(col("doc"),
          simhash64WeightedHof(col("__hi"), col("__w")).as("fp_hi"),
          simhash64WeightedHof(col("__lo"), col("__w")).as("fp_lo"))
    }
  }

  /** [[nearDupPairs]] over idf-weighted fingerprints: same pigeonhole
    * candidates + Hamming verify, but similarity is "Hamming over
    * idf-weighted content" — boilerplate-robust without dropping any
    * feature outright. */
  def nearDupPairsWeighted(docs: DataFrame, idCol: String, textCol: String,
      maxHamming: Int = 3, comboSize: Int = 1,
      portable: Boolean = false, shingleN: Int = 3,
      hot: Array[(Long, Int)] = null): DataFrame = {
    val hotList =
      if (hot != null) hot
      else idfFeatureWeights(docs, textCol, shingleN, portable)
    chunkCandidates(
        fingerprints128Weighted(docs, idCol, textCol, hotList, portable, shingleN),
        maxHamming, comboSize)
      .where(col("hamming") <= maxHamming)
      .distinct()
  }

  /** (doc, fp_hi, fp_lo) per row — the 128-bit shingle-feature
    * fingerprint as two independent simhash64s. Fast path: native
    * shingle-hash mix for the lo stream, xxhash64 re-mix of each lo
    * hash for the hi stream; `portable = true` uses the two md5
    * halves of the shingle STRING so DuckDB can replay every bit. A
    * non-empty `stop` list (lo-hash domain) drops those shingles
    * before voting (row-local `filter`, list broadcast in-plan).
    * Docs whose EVERY feature is stop-filtered are dropped — an
    * all-boilerplate doc has no content signal, and keeping it would
    * pair every such doc with every other at Hamming 0 (the DuckDB
    * twin loses those docs in its df-filter join, so dropping also
    * keeps oracle parity). */
  def fingerprints128(docs: DataFrame, idCol: String, textCol: String,
      portable: Boolean = false, shingleN: Int = 3,
      stop: Array[Long] = Array.empty): DataFrame = {
    if (!portable) {
      val lo0 = TextDedup.shingleHashes64(col(textCol), shingleN)
      val lo =
        if (stop.isEmpty) lo0
        else filter(lo0, h => !array_contains(lit(stop), h))
      val base = docs.select(col(idCol).as("doc"), lo.as("__lo"))
        .where(size(col("__lo")) > 0)
      // fused kernel: ONE pass maintains all 128 counters, deriving
      // the hi-stream hash inline — no materialized hi array, no
      // second fold (bit-equal to two simhash64 calls, the hi one over
      // xxhash64 of each lo hash; asserted in GraftExtensionsSpec)
      base.select(col("doc"),
          ExpressionColumn(SimHash128(expression(col("__lo")))).as("__fp"))
        .select(col("doc"),
          element_at(col("__fp"), 1).as("fp_hi"),
          element_at(col("__fp"), 2).as("fp_lo"))
    } else {
      val shs0 = TextDedup.shingles(col(textCol), shingleN)
      val shs =
        if (stop.isEmpty) shs0
        else filter(shs0, s => !array_contains(lit(stop), md5TokenHash(s)))
      docs.select(col(idCol).as("doc"),
          transform(shs, s => md5TokenHash(s)).as("__lo"),
          transform(shs, s => md5TokenHashHi(s)).as("__hi"))
        .where(size(col("__lo")) > 0)
        .select(col("doc"),
          simhash64Of(col("__hi")).as("fp_hi"), simhash64Of(col("__lo")).as("fp_lo"))
    }
  }

  /** Contiguous chunk boundaries covering `bits` as evenly as
    * possible: (offset, width) per chunk. */
  private[graft] def chunkSpans(nChunks: Int, bits: Int = Bits): Seq[(Int, Int)] = {
    val base = bits / nChunks
    val extra = bits % nChunks
    val widths = Seq.tabulate(nChunks)(i => base + (if (i < extra) 1 else 0))
    widths.scanLeft(0)(_ + _).zip(widths)
  }

  /** Low `w` bits set; wide-chunk-safe (1L << 64 wraps to 1 in JVM
    * shift semantics, so w = 64 must short-circuit to -1L). */
  private def lowMask(w: Int): Long = if (w >= 64) -1L else (1L << w) - 1L

  /** Bits [off, off+w) of the 128-bit value (hi, lo), bit 0 = LSB of
    * lo — handles chunks that straddle the half boundary. */
  private[graft] def extract128(hi: Column, lo: Column, off: Int, w: Int): Column = {
    val m = lit(lowMask(w))
    if (off + w <= 64) shiftrightunsigned(lo, off).bitwiseAND(m)
    else if (off >= 64) shiftrightunsigned(hi, off - 64).bitwiseAND(m)
    else shiftrightunsigned(lo, off)
      .bitwiseOR(shiftleft(hi, 64 - off)).bitwiseAND(m)
  }

  /** Hamming distance between two 128-bit fingerprints. */
  private def hamming128(aHi: Column, aLo: Column, bHi: Column, bLo: Column): Column =
    (bit_count(aHi.bitwiseXOR(bHi)) + bit_count(aLo.bitwiseXOR(bLo))).cast("int")

  /** Raw bucket-collision candidates (pre-verify, pre-distinct):
    * explode each doc into its C(b, g) (table, key) buckets, self-join
    * within buckets. Exposed for the candidate-volume spec. The
    * returned plan references the persisted bucket frame (both join
    * sides share it — recomputing would double the fingerprint work);
    * it stays cached for the frame's lifetime, evictable under
    * pressure. */
  private[graft] def chunkCandidates(fps: DataFrame,
      maxHamming: Int, comboSize: Int): DataFrame = {
    require(maxHamming >= 0 && maxHamming < FpBits,
      s"maxHamming must be in [0, ${FpBits - 1}]")
    require(comboSize >= 1, "comboSize must be >= 1")
    if (maxHamming == 0) {
      // exact-fingerprint dedup: a pair within budget 0 IS equal on
      // both halves — bucket on the whole fingerprint, no chunk tables
      val f = CacheRegistry.persist(fps)
      return f.as("a")
        .join(f.as("b"),
          col("a.fp_hi") === col("b.fp_hi") &&
            col("a.fp_lo") === col("b.fp_lo") &&
            col("a.doc") < col("b.doc"))
        .select(col("a.doc").as("doc_a"), col("b.doc").as("doc_b"),
          lit(0).as("hamming"))
    }
    val nChunks = maxHamming + comboSize
    require(nChunks <= FpBits, s"maxHamming + comboSize must be <= $FpBits")
    val spans = chunkSpans(nChunks, FpBits)
    val combos = spans.indices.combinations(comboSize).toSeq
    // ≤ 64 is exact-fit: the packed key stays injective in one long
    // (a lone 64-bit chunk IS the long; shiftleft(0L, 64) on the empty
    // accumulator is a no-op under JVM shift-mod semantics, and any
    // MULTI-chunk combo under this bound has every width < 64)
    combos.foreach { cs =>
      require(cs.map(spans(_)._2).sum <= 64,
        "combined bucket key must fit one long")
    }
    val tables = combos.zipWithIndex.map { case (cs, ti) =>
      // key = chunk values of this combo packed into one long
      val key = cs.foldLeft(lit(0L)) { (acc, j) =>
        val (off, w) = spans(j)
        shiftleft(acc, w).bitwiseOR(extract128(col("fp_hi"), col("fp_lo"), off, w))
      }
      struct(lit(ti).as("tbl"), key.as("tkey"))
    }
    // NOT pre-partitioned on the bucket key (r10 measurement): caching
    // a repartition(tbl, tkey) so both self-join sides read the cache
    // pre-clustered measured 1.03 s → 1.20 s on q19 — the explicit
    // exchange ahead of the cache costs more than the join-side
    // exchanges it saves at this bucket cardinality.
    // NOT a groupBy(tbl, tkey) + collect_list + in-bucket HOF pair
    // generation either (r11 x100 measurement): the one-exchange form
    // looks cheaper on paper (the self-join passes the exploded frame
    // through two exchanges and a 9 GB cache; x100 decomposition:
    // fingerprints 1.8 s, candidates 9.2 s of the query's 9.5 s), but
    // collect_list over the 225 M-row explode is an ObjectHashAggregate
    // whose buffers spill to sort-based with per-row object
    // serialization, and the quadratic pair HOFs run interpreted — the
    // prototype had not finished at 8× the full query's runtime and
    // was killed. Codegen'd shuffle + SMJ beats object aggregation at
    // this volume; the exploded self-join stays.
    // NOT a narrow (doc, tbl, tkey) shuffle + fingerprint join-back
    // either (r11 x100, third candidate): 24 B/row vs 40 B through the
    // two self-join exchanges, but the candidate-pair distinct plus
    // TWO joins back against the fingerprint frame for the verify
    // measured 13.9 s vs the committed 10.1 s in one window — the
    // verify must stay map-side on data already in flight.
    val bucketed = CacheRegistry.persist( // fingerprints not recomputed per join side
      fps.select(col("doc"), col("fp_hi"), col("fp_lo"),
          explode(array(tables: _*)).as("tk"))
        .select(col("doc"), col("fp_hi"), col("fp_lo"),
          col("tk.tbl"), col("tk.tkey")))
    bucketed.as("a")
      .join(bucketed.as("b"),
        col("a.tbl") === col("b.tbl") &&
          col("a.tkey") === col("b.tkey") &&
          col("a.doc") < col("b.doc"))
      .select(col("a.doc").as("doc_a"), col("b.doc").as("doc_b"),
        hamming128(col("a.fp_hi"), col("a.fp_lo"),
          col("b.fp_hi"), col("b.fp_lo")).as("hamming"))
  }

  /** ALL pairs within Hamming distance ≤ maxHamming on the 128-bit
    * shingle-feature fingerprint: pigeonhole candidates (exact recall
    * — see object doc), verified with bit_count per half. `comboSize`
    * trades keys/doc (C(maxHamming+g, g)) for bucket-key width; 2
    * keeps the budget-8 key ~25 bits wide, the 100 TB-shaped setting.
    * `maxDf < 1` drops stop-shingles before fingerprinting (pass a
    * precomputed `stop` list instead to keep the query path one
    * pass). */
  def nearDupPairs(docs: DataFrame, idCol: String, textCol: String,
      maxHamming: Int = 3, comboSize: Int = 1,
      portable: Boolean = false, shingleN: Int = 3,
      maxDf: Double = 1.0, stop: Array[Long] = null): DataFrame = {
    val stopList =
      if (stop != null) stop
      else if (maxDf < 1.0)
        stopFeatureHashes(docs, textCol, maxDf, shingleN, portable)
      else Array.empty[Long]
    chunkCandidates(
        fingerprints128(docs, idCol, textCol, portable, shingleN, stopList),
        maxHamming, comboSize)
      // verify BEFORE dedup: the Hamming filter kills the vast
      // majority of bucket candidates map-side, so the distinct()
      // shuffle carries only qualifying pairs
      .where(col("hamming") <= maxHamming)
      .distinct()
  }
}
