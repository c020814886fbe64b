package graft.plans

import org.apache.spark.sql.catalyst.expressions.XXH64
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}

import graft.operators.MinHashLSH

/** The one body of each hash kernel over an `array<long>` of token or
  * shingle hashes: [[MinHashSignature]] and the `simhash64`,
  * `simhash128`, `simhash128w`, `shingle_hashes` and `window_hashes`
  * rows of the kernel table (the `graft.plans` package object).
  * Interpreted eval calls the method here and generated code emits the
  * same call, the [[TextKernels]] pattern. The MinHash and SimHash
  * bodies are one pass with in-place counters and no per-element
  * allocation; [[shingleHashes]] boxes each window hash into the set
  * that drops repeats. */
object HashKernels {

  // the n-gram window hash: a murmur3-fmix-style avalanche per token
  private val Seed = -7046029254386353131L
  private val Mult1 = -49064778989728563L   // murmur3 fmix multiplier
  private val Mult2 = -4417276706812531889L // murmur3 fmix multiplier 2

  /** Hash of token hashes `from until from + len`; the position k
    * enters each step, so permuted windows hash apart. */
  private def windowHash(arr: ArrayData, from: Int, len: Int): Long = {
    var h = Seed
    var k = 0
    while (k < len) {
      val x0 = arr.getLong(from + k)
      val x = (x0 ^ (x0 >>> 33)) * Mult1
      h = (h ^ x) * Mult2 + k
      k += 1
    }
    h
  }

  /** `a.length` min-hash values: min over the hashes h of
    * pmod(h·aⱼ + bⱼ, 2³¹−1), with Java wrap-around multiply. */
  def minhashSignature(arr: ArrayData, a: Array[Long], b: Array[Long]): ArrayData = {
    val P = MinHashLSH.Prime
    val numPerm = a.length
    val sig = Array.fill(numPerm)(P)
    var i = 0
    val n = arr.numElements()
    while (i < n) {
      val h = arr.getLong(i)
      var j = 0
      while (j < numPerm) {
        var v = (h * a(j) + b(j)) % P
        if (v < 0) v += P
        if (v < sig(j)) sig(j) = v
        j += 1
      }
      i += 1
    }
    new GenericArrayData(sig)
  }

  /** 64-bit SimHash: bit b is set when more hashes have it set than
    * clear. One pass over 64 in-place counters; it replaces an
    * aggregate(zip_with) fold that allocates a 64-element array per
    * token, and is bit-equal to that fold's counter/threshold
    * semantics (the fold is the test reference). */
  def simhash64(arr: ArrayData): Long = {
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

  /** `[fp_hi, fp_lo]`: [[simhash64]] of the hashes (lo) and of their
    * `xxhash64` (seed 42) (hi), in one pass. Each hi hash is derived
    * inline with Catalyst's XXH64 long-mix, so the result is bit-equal
    * to two `simhash64` calls over `lo` and `transform(lo, xxhash64)`
    * (asserted in GraftExtensionsSpec) without the materialized hi
    * array or the second fold. */
  def simhash128(arr: ArrayData): ArrayData = {
    val cnt = new Array[Long](128)
    var i = 0
    val n = arr.numElements()
    while (i < n) {
      vote128(cnt, arr.getLong(i), 1L)
      i += 1
    }
    fingerprint128(cnt)
  }

  /** [[simhash128]] with each hash's votes scaled by its weight: the
    * idf-weighting Charikar/Manku simhash uses, so corpus-wide frequent
    * features cannot dominate the fingerprint (a stop-list is the
    * weight-0 case). Null when the arrays' lengths differ, so a
    * malformed weights projection surfaces instead of truncating.
    * Bit-equal per half to `SimHash.simhash64WeightedHof`. */
  def simhash128Weighted(hs: ArrayData, ws: ArrayData): ArrayData = {
    val n = hs.numElements()
    if (n != ws.numElements()) return null
    val cnt = new Array[Long](128)
    var i = 0
    while (i < n) {
      vote128(cnt, hs.getLong(i), ws.getLong(i))
      i += 1
    }
    fingerprint128(cnt)
  }

  private def vote128(cnt: Array[Long], lo: Long, w: Long): Unit = {
    val hi = XXH64.hashLong(lo, 42L)
    var b = 0
    while (b < 64) {
      if (((lo >>> b) & 1L) == 1L) cnt(b) += w else cnt(b) -= w
      if (((hi >>> b) & 1L) == 1L) cnt(b + 64) += w else cnt(b + 64) -= w
      b += 1
    }
  }

  private def fingerprint128(cnt: Array[Long]): ArrayData = {
    var fpLo = 0L
    var fpHi = 0L
    var b = 0
    while (b < 64) {
      if (cnt(b) > 0) fpLo |= (1L << b)
      if (cnt(b + 64) > 0) fpHi |= (1L << b)
      b += 1
    }
    new GenericArrayData(Array(fpHi, fpLo))
  }

  /** Distinct hashes of every n-token window, in first-seen order; a
    * document shorter than n yields the hash of the whole document, so
    * every non-empty document has a shingle. Values are full 64-bit:
    * consumers that need the minhash domain reduce mod 2³¹−1
    * themselves, which keeps the collision budget of exact set-count
    * users (blockedJaccardPairs) at ~2⁻⁶⁴. Replaces building each
    * n-gram as a string and hashing it. */
  def shingleHashes(arr: ArrayData, n: Int): ArrayData = {
    val m = arr.numElements()
    val windows = math.max(m - n + 1, 1)
    val seen = new java.util.LinkedHashSet[java.lang.Long]()
    var i = 0
    while (i < windows) {
      seen.add(windowHash(arr, i, math.min(n, m - i)))
      i += 1
    }
    val out = new Array[Long](seen.size)
    val it = seen.iterator()
    var j = 0
    while (it.hasNext) { out(j) = it.next(); j += 1 }
    new GenericArrayData(out)
  }

  /** The hash of every n-token window by start position: the
    * [[shingleHashes]] windows without deduplication, the shape
    * [[graft.operators.TextDedup.substringDedup]] needs (its coverage
    * union is keyed on the window's start). Unlike [[shingleHashes]], a
    * document shorter than n yields an EMPTY array: no window of the
    * full span exists, so the document carries no dedupable range (the
    * operator's pass-through contract). Values differ from the older
    * per-window string hash (the `hash_flavor` "string" store the
    * operator rejects); equality classes agree up to ~2⁻⁶⁴
    * collisions, which is all the consumer uses. */
  def windowHashes(arr: ArrayData, n: Int): ArrayData = {
    val windows = math.max(arr.numElements() - n + 1, 0)
    val out = new Array[Long](windows)
    var i = 0
    while (i < windows) {
      out(i) = windowHash(arr, i, n)
      i += 1
    }
    new GenericArrayData(out)
  }
}
