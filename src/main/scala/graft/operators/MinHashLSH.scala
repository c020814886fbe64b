package graft.operators

import org.apache.spark.sql.{Column, DataFrame, ExpressionColumn}
import org.apache.spark.sql.ExpressionColumn.expression
import org.apache.spark.sql.catalyst.expressions.Literal
import org.apache.spark.sql.functions._

import graft.functions.TextFunctions
import graft.plans.{ArrayPmodExpr, MinHashSignature}

/** MinHash + banded LSH near-duplicate detection.
  *
  * Pipeline: word-shingle hashes → k permutation min-hashes (the
  * codegen'd [[graft.plans.MinHashSignature]] kernel, row-local) → b
  * bands of r rows →
  * band-bucket join for candidates → exact shingle-Jaccard verify on
  * candidates only.
  *
  * Scale posture: signature computation never shuffles; candidate
  * generation shuffles once on (band, band_hash); verification joins
  * shingle sets for candidate pairs only. Nothing is ever all-pairs —
  * cost is Σ bucket², bounded by band width (r) choice. Recall for
  * Jaccard s is 1−(1−s^r)^b (r=4, b=16 ⇒ ~0.99 at s=0.7).
  *
  * Hot-shingle robustness: a corpus-wide boilerplate shingle IS a
  * band-bucket risk — if its permuted hash happens to be small, it
  * wins that permutation's minimum in a large fraction of docs, and a
  * band whose r minima all land on such values groups
  * non-duplicates into one bucket (measured: a 12-token boilerplate
  * prefix shared by 300 docs produced a 62-doc bucket). The
  * mitigation is a STOP-SHINGLE list (`maxDf`): shingles present in
  * more than maxDf·N docs are removed from every set before
  * sketching AND verification — the list is provably tiny
  * (≤ avg-set-size / maxDf entries), so it broadcasts as an
  * `array_except` literal and the filter stays row-local; similarity
  * becomes "Jaccard over non-ubiquitous shingles", which is the
  * measure a boilerplate-heavy dedup wants anyway. Candidate rows are
  * a join output (never a collected array), so a genuinely large
  * duplicate cluster shuffles flat pair rows that AQE can split, not
  * one unbounded bucket row.
  */
object MinHashLSH {

  val Prime: Long = 2147483647L // 2^31 − 1, Mersenne

  /** Deterministic permutation parameters from a seed. */
  def permutations(numPerm: Int, seed: Long = 42L): Seq[(Long, Long)] = {
    val rnd = new scala.util.Random(seed)
    Seq.fill(numPerm)((1L + rnd.nextInt(Int.MaxValue - 1).toLong,
      rnd.nextInt(Int.MaxValue).toLong))
  }

  /** Distinct word-shingle hashes for one document (row-local), in
    * the minhash domain [0, 2³¹−1).
    *
    * Token-hash array → one codegen'd pass mixing each n-window of
    * longs ([[TextDedup.shingleHashes64]]) — no per-shingle string —
    * then `array_pmod`, a native element-wise pmod that keeps the whole
    * shingle→signature projection codegen'd (any HOF in the chain would
    * force it interpreted end-to-end). The token-hash array is the
    * expression's single child, so it is evaluated once per row. (A
    * pure-HOF positional variant was tried and is a trap: a captured
    * outer array referenced by k element_at lambdas is INLINED k× — no
    * common-subexpression elimination inside lambdas — measured 5×
    * slower than even the string path.) */
  def shingleHashes(textCol: Column, n: Int = 3): Column =
    ExpressionColumn(ArrayPmodExpr(
      expression(TextDedup.shingleHashes64(textCol, n)), Literal(Prime)))

  /** Engine-portable shingle hashes: md5 of the n-gram STRING (first 8
    * hex chars) mod P — DuckDB computes the identical value, enabling
    * a full SQL oracle over the whole LSH pipeline. Slower than the
    * native mix (allocates the n-gram strings); the default path stays
    * xxhash64-based. */
  def shingleHashesPortable(textCol: Column, n: Int = 3): Column =
    transform(TextDedup.shingles(textCol, n),
      s => pmod(conv(substring(md5(s), 1, 8), 16, 10).cast("long"), lit(Prime)))

  /** docs → (id, band, band_hash) — one row per band. */
  def bandBuckets(docs: DataFrame, idCol: String, textCol: String,
      numPerm: Int = 64, bands: Int = 16, shingleN: Int = 3,
      seed: Long = 42L): DataFrame =
    bandBucketsFromHashes(
      docs.select(col(idCol).as("doc"),
        shingleHashes(col(textCol), shingleN).as("sh")),
      numPerm, bands, seed)

  /** As bandBuckets, over a precomputed (doc, sh: array<long>) frame —
    * lets callers share one (persisted) shingle-hash pass between
    * banding and Jaccard verification. With `portableBandKey` the band
    * bucket key is the comma-joined signature slice (a string any
    * engine reproduces) instead of xxhash64 — identical bucketing
    * semantics, SQL-checkable. */
  def bandBucketsFromHashes(docHashes: DataFrame, numPerm: Int = 64,
      bands: Int = 16, seed: Long = 42L,
      portableBandKey: Boolean = false,
      persistResult: Boolean = true): DataFrame = {
    require(numPerm % bands == 0, "bands must divide numPerm")
    val r = numPerm / bands
    val sig = ExpressionColumn(MinHashSignature(expression(col("sh")), numPerm, seed))
    val withSig = docHashes.select(col("doc"), sig.as("sig"))
    def bandKey(j: Int): Column = {
      val vals = (0 until r).map(i => element_at(col("sig"), j * r + i + 1))
      if (portableBandKey) concat_ws(",", vals.map(_.cast("string")): _*)
      else xxhash64((lit(j) +: vals): _*).cast("string")
    }
    val bandStructs = array((0 until bands).map { j =>
      struct(lit(j).as("band"), bandKey(j).as("band_hash"))
    }: _*)
    // Materialize: the self-join in candidatePairs would otherwise
    // recompute every signature on both sides. In-session this is a
    // cache persist; the durable form of the same discipline is
    // [[LshArtifact]], which writes the frame as a parquet artifact
    // once and lets every later run read it (persistResult = false —
    // no cache entry to leak when the caller goes straight to disk).
    val bb = withSig.select(col("doc"), explode(bandStructs).as("bb"))
      .select(col("doc"), col("bb.band"), col("bb.band_hash"))
    if (persistResult) CacheRegistry.persist(bb) else bb
  }

  /** Candidate pairs: docs sharing ≥1 band bucket (doc_a < doc_b). */
  def candidatePairs(buckets: DataFrame): DataFrame =
    buckets.as("a")
      .join(buckets.as("b"),
        col("a.band") === col("b.band") &&
          col("a.band_hash") === col("b.band_hash") &&
          col("a.doc") < col("b.doc"))
      .select(col("a.doc").as("doc_a"), col("b.doc").as("doc_b"))
      .distinct()

  /** Shingle-hash values present in more than maxDf·nDocs documents.
    * Bounded by construction: Σ df(s) = Σ |set|, so at most
    * avg-set-size / maxDf values qualify — safe to collect and inline
    * as a broadcast literal. */
  def stopShingles(docShingles: DataFrame, maxDf: Double): Array[Long] = {
    val nDocs = docShingles.count()
    docShingles.select(explode(col("sh")).as("s"))
      .groupBy("s").agg(count(lit(1)).as("c"))
      .where(col("c") > lit(maxDf) * nDocs)
      .collect().map(_.getLong(0)).sorted
  }

  /** Candidates verified with exact shingle-set Jaccard ≥ threshold.
    * `portable = true` switches shingle hashing and band keys to the
    * md5/string forms an oracle engine reproduces bit-for-bit.
    * `maxDf < 1` drops stop-shingles (df > maxDf·N) from every set
    * before sketching and verification — see object doc; pass a
    * precomputed `stop` list (from [[stopShingles]], per hash path)
    * to keep the query path free of the df jobs — the corpus-level-
    * artifact pattern (compute once, persist next to the table). */
  def nearDupPairs(docs: DataFrame, idCol: String, textCol: String,
      threshold: Double, numPerm: Int = 64, bands: Int = 16,
      shingleN: Int = 3, seed: Long = 42L,
      portable: Boolean = false, maxDf: Double = 1.0,
      stop: Array[Long] = null): DataFrame = {
    val shingleExpr =
      if (portable) shingleHashesPortable(col(textCol), shingleN)
      else shingleHashes(col(textCol), shingleN)
    val raw = docs.select(col(idCol).as("doc"), shingleExpr.as("sh"))
    val hot =
      if (stop != null) stop
      else if (maxDf < 1.0) stopShingles(raw, maxDf)
      else Array.empty[Long]
    val filtered =
      if (hot.isEmpty) raw
      else raw.select(col("doc"),
        // filter keeps the array a set already (shingles are distinct)
        filter(col("sh"), h => !array_contains(lit(hot), h)).as("sh"))
    val sh = CacheRegistry.persist(filtered)
    val pairs = candidatePairs(
      bandBucketsFromHashes(sh, numPerm, bands, seed,
        portableBandKey = portable))
    pairs
      .join(sh.withColumnRenamed("doc", "doc_a").withColumnRenamed("sh", "sh_a"), "doc_a")
      .join(sh.withColumnRenamed("doc", "doc_b").withColumnRenamed("sh", "sh_b"), "doc_b")
      .withColumn("jaccard",
        size(array_intersect(col("sh_a"), col("sh_b"))).cast("double") /
          size(array_union(col("sh_a"), col("sh_b"))).cast("double"))
      .where(col("jaccard") >= threshold)
      .select("doc_a", "doc_b", "jaccard")
  }

  /** Near-dedup: drop the larger id of every qualifying pair (greedy —
    * keeps at least one representative per duplicate cluster, and can
    * keep MORE than one on chains: pairs (1,5),(4,5) keep {1,4} though
    * 1≈5≈4 is a single cluster. [[dedupCorpus]] is the cluster-exact
    * form). */
  def dedup(docs: DataFrame, idCol: String, textCol: String,
      threshold: Double = 0.7): DataFrame = {
    val losers = nearDupPairs(docs, idCol, textCol, threshold)
      .select(col("doc_b").as(idCol)).distinct()
    docs.join(losers, Seq(idCol), "left_anti")
  }

  /** Cluster-exact near-dedup, single call: LSH pairs → connected
    * components ([[DupGroups]]) → exactly ONE survivor (min id) per
    * duplicate cluster. Near-dup similarity is not transitive, so the
    * pair graph's components — not its individual pairs — are the real
    * duplicate groups. */
  def dedupCorpus(docs: DataFrame, idCol: String, textCol: String,
      threshold: Double = 0.7, stop: Array[Long] = null): DataFrame =
    DupGroups.assignClusters(docs, idCol,
        nearDupPairs(docs, idCol, textCol, threshold, stop = stop),
        "doc_a", "doc_b")
      .where(col("is_keep"))
      .drop("cluster", "is_keep")
}
