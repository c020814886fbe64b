package graft.plans

import java.math.RoundingMode

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** ONE-PASS native scorer for the corpus-cleaning gate: lang-ID,
  * quality, top-2-gram fraction and token count in a single kernel
  * call, value-identical to the composed HOF columns
  * ([[graft.functions.TextFunctions.langId]] /
  * `qualityScore` / `topNgramFraction(_, 2)` / `tokenCount`) —
  * asserted row-for-row in GraftExtensionsSpec.
  *
  * Why it exists: Spark's higher-order functions (transform / filter /
  * aggregate) always evaluate INTERPRETED — no whole-stage codegen —
  * and when predicate pushdown inlines the gate into a Filter, each
  * split conjunct re-evaluates its full HOF chain per row (FilterExec
  * does no cross-predicate subexpression elimination). On q61's gate
  * that cost ~8 ms/row interpreted; this kernel is one ~µs pass:
  * normalize + tokenize once, then stopword/distinct/bigram counts
  * from the same token array. The operators build this kernel in
  * every session; the HOF columns remain as its test references.
  *
  * Exactness notes (every step mirrors the Column chain bit-for-bit):
  * trim is UTF8String.trim (0x20 only), lower is UTF8String
  * .toLowerCase, whitespace collapse is Java-regex `\s` = the six
  * ASCII whitespace chars, split keeps leading/trailing empties
  * (`split(" ", -1)`), length() counts code points, and all double
  * arithmetic keeps the original operation order.
  */
object TextScores {
  private val Stop = new java.util.HashSet[String](
    java.util.Arrays.asList(graft.functions.TextFunctions.StopWords: _*))
  private val ViChars = "àáảãạăâèéẻẽẹêìíỉĩịòóỏõọôơùúủũụưỳýỷỹỵđ"
  private val DeChars = "äöüß"
  private val viSet: java.util.HashSet[Character] = {
    val s = new java.util.HashSet[Character]()
    ViChars.foreach(c => s.add(c)); s
  }

  private def isWs(c: Char): Boolean =
    c == ' ' || c == '\t' || c == '\n' || c == '\u000B' || c == '\f' || c == '\r'

  /** lower(trim(text)) with `\s+` collapsed to single spaces — the
    * [[graft.functions.TextFunctions.normalizeText]] string. */
  private[plans] def normalize(trimmedLower: String): String = {
    val n = trimmedLower.length
    val sb = new java.lang.StringBuilder(n)
    var i = 0
    var inWs = false
    while (i < n) {
      val c = trimmedLower.charAt(i)
      if (isWs(c)) { if (!inWs) sb.append(' '); inWs = true }
      else { sb.append(c); inWs = false }
      i += 1
    }
    sb.toString
  }

  /** Java `split(" ", -1)` semantics: leading/trailing empties kept,
    * empty input yields a single empty token. */
  private[plans] def splitSpace(s: String): Array[String] =
    if (s.isEmpty) Array("") else s.split(" ", -1)

  /** The [[graft.functions.TextFunctions.tokens]] array of `text`,
    * with the trimmed-empty flag the HOF edge cases key off. */
  private[plans] def tokenize(text: UTF8String): (Array[String], Boolean) = {
    val trimmed = text.trim()
    (splitSpace(normalize(trimmed.toLowerCase.toString)),
      trimmed.numBytes() == 0)
  }

  /** Spark `round(d, 6)` (RoundBase HALF_UP over BigDecimal.valueOf). */
  def round6(d: Double): Double =
    java.math.BigDecimal.valueOf(d).setScale(6, RoundingMode.HALF_UP).doubleValue()

  /** (lang_pred, quality[unrounded], t2[unrounded], n_tokens,
    * punct_ratio, stop_ratio, est_bpe) — the last three feed
    * `text_full_stats` (punct/stop fall out of the quality/lang
    * loops; est_bpe rides the punct code-point walk). */
  def computeRaw(text: UTF8String): (String, Double, Double, Int, Double, Double, Long) = {
    val orig = text.toString
    val trimmed = text.trim()
    val trimmedEmpty = trimmed.numBytes() == 0
    val toks = splitSpace(normalize(trimmed.toLowerCase.toString))
    val nRaw = toks.length

    // one loop: stopword count + distinct set + bigram max-count
    var stop = 0
    val distinct = new java.util.HashSet[String]()
    val gramCount = math.max(nRaw - 2, 0) + 1
    val gramFreq = new java.util.HashMap[String, Integer]()
    var maxGram = 0
    var i = 0
    while (i < nRaw) {
      val t = toks(i)
      if (Stop.contains(t)) stop += 1
      distinct.add(t)
      if (i < gramCount) {
        val g = if (i + 1 < nRaw) t + " " + toks(i + 1) else t
        val c = gramFreq.merge(g, 1, (a, b) => a + b)
        if (c > maxGram) maxGram = c
      }
      i += 1
    }

    // lang: stopword density, then diacritic classes over the ORIGINAL
    val langRatio = stop.toDouble / math.max(nRaw, 1).toDouble
    val lang =
      if (langRatio >= 0.05) "en"
      else {
        var vi = false; var de = false
        var j = 0
        val ol = orig.length
        while (j < ol && !vi) {
          val c = orig.charAt(j)
          if (viSet.contains(c)) vi = true
          else if (!de && DeChars.indexOf(c.toInt) >= 0) de = true
          j += 1
        }
        if (vi) "vi" else if (de) "de" else "other"
      }

    // punct ratio over code points of the ORIGINAL text; the same
    // walk counts BPE-ish tokens — regexp_count(text,
    // " ?[a-zA-Z]+| ?[0-9]+| ?[^a-zA-Z0-9 ]+") equals the number of
    // maximal same-class runs (ASCII alpha / ASCII digit / other)
    // over non-space chars, because each greedy match consumes
    // exactly one maximal run (the optional leading space attaches
    // to a token without creating or merging matches, and only the
    // literal ' ' — not \s — is a separator in that pattern).
    // Equivalence vs regexp_count is spec'd in GraftExtensionsSpec.
    var punct = 0
    var total = 0
    var bpe = 0L
    var prevCls = 0 // 0 = space/boundary, 1 = alpha, 2 = digit, 3 = other
    var j = 0
    val ol = orig.length
    while (j < ol) {
      val cp = orig.codePointAt(j)
      total += 1
      if ((cp >= '!' && cp <= '/') || (cp >= ':' && cp <= '@') ||
          (cp >= '[' && cp <= '`') || (cp >= '{' && cp <= '~')) punct += 1
      val cls =
        if ((cp >= 'a' && cp <= 'z') || (cp >= 'A' && cp <= 'Z')) 1
        else if (cp >= '0' && cp <= '9') 2
        else if (cp == ' ') 0
        else 3
      if (cls != 0 && cls != prevCls) bpe += 1
      prevCls = cls
      j += Character.charCount(cp)
    }
    val punctRatio = punct.toDouble / math.max(total, 1).toDouble

    val nTokens = if (trimmedEmpty) 0 else nRaw
    val nTokD = nTokens.toDouble
    val lenOk = if (nTokD >= 10.0 && nTokD <= 1000.0) 1.0 else 0.0
    val distinctRatio = distinct.size.toDouble / math.max(nTokD, 1.0)
    val quality = lenOk * 0.4 + distinctRatio * 0.4 + (1.0 - punctRatio) * 0.2

    val t2 =
      if (trimmedEmpty) 0.0
      else maxGram.toDouble / math.max(gramCount, 1).toDouble

    (lang, quality, t2, nTokens, punctRatio, langRatio, bpe)
  }

  /** The `text_scores` row: (lang_pred, quality, t2, n_tokens). */
  def compute(text: UTF8String): InternalRow = {
    val (lang, quality, t2, nTokens, _, _, _) = computeRaw(text)
    new GenericInternalRow(Array[Any](
      UTF8String.fromString(lang), quality, t2, nTokens.toLong))
  }

  /** The full q23 stat row: (n_tokens, punct_ratio, stop_ratio,
    * lang_pred, quality, est_bpe_tokens) — same pass, wider output.
    * The HOF columns each re-normalize and re-tokenize the text; here
    * the punct/stop ratios fall out of the [[computeRaw]] loop that
    * quality and lang-ID already pay for. */
  def computeFull(text: UTF8String): InternalRow = {
    val (lang, quality, _, nTokens, punctRatio, stopRatio, bpe) =
      computeRaw(text)
    new GenericInternalRow(Array[Any](
      nTokens.toLong, punctRatio, stopRatio,
      UTF8String.fromString(lang), quality, bpe))
  }

  /** The q61 gate in one call: en + round6(quality) ≥ minQ +
    * round6(t2) ≤ maxT2 — identical to filtering the rounded columns,
    * and the un-splittable filter form of [[compute]]. */
  def gate(text: UTF8String, minQuality: Double, maxT2: Double): Boolean = {
    val (lang, quality, t2, _, _, _, _) = computeRaw(text)
    lang == "en" && round6(quality) >= minQuality && round6(t2) <= maxT2
  }

  val Schema: StructType = StructType(Seq(
    StructField("lang_pred", StringType, nullable = false),
    StructField("quality", DoubleType, nullable = false),
    StructField("t2", DoubleType, nullable = false),
    StructField("n_tokens", LongType, nullable = false)))

  val FullSchema: StructType = StructType(Seq(
    StructField("n_tokens", LongType, nullable = false),
    StructField("punct_ratio", DoubleType, nullable = false),
    StructField("stop_ratio", DoubleType, nullable = false),
    StructField("lang_pred", StringType, nullable = false),
    StructField("quality", DoubleType, nullable = false),
    StructField("est_bpe_tokens", LongType, nullable = false)))
}
