package graft.functions

import org.apache.spark.sql.{Column, ExpressionColumn}
import org.apache.spark.sql.ExpressionColumn.expression
import org.apache.spark.sql.catalyst.expressions.Literal
import org.apache.spark.sql.functions._

import graft.plans.{ClassifierMilliExpr, FingerprintMd5Expr}

/** Text-analysis column functions for large-scale corpus pipelines:
  * normalization, tokenization, quality metrics, language heuristic,
  * rolling-hash fingerprint.
  *
  * All Column expressions (regexp/split/higher-order functions, and
  * graft's native kernels for the classifier score and fingerprint) —
  * no UDFs, row-local (zero shuffle): the same expressions run
  * unchanged over a 100 TB corpus.
  */
object TextFunctions {

  /** lower + trim + whitespace collapse — the canonical form used by
    * exact dedup and fingerprinting. */
  def normalizeText(c: Column): Column =
    regexp_replace(lower(trim(c)), "\\s+", " ")

  def tokens(c: Column): Column = split(normalizeText(c), " ")

  def tokenCount(c: Column): Column =
    when(length(trim(c)) === 0, lit(0)).otherwise(size(tokens(c)))

  /** ASCII punctuation density (explicit ranges so Java regex and RE2
    * agree): chars in !-/ :-@ [-` {-~ over total length. */
  def punctRatio(c: Column): Column =
    length(regexp_replace(c, "[^!-/:-@\\[-`{-~]", "")).cast("double") /
      greatest(length(c), lit(1)).cast("double")

  val StopWords: Seq[String] = Seq(
    "the", "a", "an", "and", "or", "of", "to", "in", "is", "it",
    "that", "was", "for", "on", "with", "as", "at", "by", "be", "this")

  def stopwordRatio(c: Column): Column = {
    val toks = tokens(c)
    size(filter(toks, t => t.isin(StopWords: _*))).cast("double") /
      greatest(size(toks), lit(1)).cast("double")
  }

  /** n-gram language heuristic: English stopword density, then
    * diacritic classes. Deterministic, dictionary-free — the shape a
    * 100 TB pre-filter wants before a real classifier. */
  def langId(c: Column): Column =
    when(stopwordRatio(c) >= lit(0.05), lit("en"))
      .when(c.rlike("[àáảãạăâèéẻẽẹêìíỉĩịòóỏõọôơùúủũụưỳýỷỹỵđ]"), lit("vi"))
      .when(c.rlike("[äöüß]"), lit("de"))
      .otherwise(lit("other"))

  /** Composite quality score in [0,1]: length band + lexical diversity
    * proxy + low punctuation. Mirrors the reference pipelines'
    * rule-based quality gates; weights are explicit doubles so the
    * DuckDB oracle reproduces the exact IEEE arithmetic. */
  def qualityScore(c: Column): Column = {
    val nTok = tokenCount(c).cast("double")
    val lenOk = when(nTok >= 10 && nTok <= 1000, lit(1.0)).otherwise(lit(0.0))
    val distinctRatio =
      size(array_distinct(tokens(c))).cast("double") / greatest(nTok, lit(1.0))
    val lowPunct = lit(1.0) - punctRatio(c)
    lenOk * lit(0.4) + distinctRatio * lit(0.4) + lowPunct * lit(0.2)
  }

  /** BPE-ish token estimate: counts GPT-style pre-tokenizer segments —
    * space-prefixed letter runs, digit runs, and punctuation runs —
    * a cheap, deterministic proxy for subword token counts (the real
    * tokenizer's merge step only splits these further by a roughly
    * constant factor). Pure regexp_count: codegen'd, row-local. */
  val BpeishPattern = " ?[a-zA-Z]+| ?[0-9]+| ?[^a-zA-Z0-9 ]+"

  /** Fraction of tokens that are repeats (1 − distinct/total) — the
    * Gopher/MassiveText "duplicate token fraction" repetition signal.
    * Row-local; 0 for empty text. The token array is bound ONCE as a
    * lambda value (`transform(array(x), ts => …)`) so the expression
    * stays linear even when an optimizer rule inlines it into a
    * filter predicate and evaluation falls back to interpreted mode
    * (no common-subexpression caching there). */
  def dupTokenFraction(c: Column): Column = {
    val frac = transform(array(tokens(c)), ts =>
      lit(1.0) - size(array_distinct(ts)).cast("double") /
        greatest(size(ts), lit(1)).cast("double"))
    when(length(trim(c)) === 0, lit(0.0)).otherwise(element_at(frac, 1))
  }

  /** Share of all positional word n-grams taken by the single most
    * frequent one — the Gopher "top n-gram fraction" boilerplate
    * signal (a doc that is one sentence looped scores near 1).
    * Per-row HOF over the n-gram array: count each distinct n-gram's
    * occurrences and take the max — O(|distinct|·|S|) comparisons per
    * row, fine at document lengths and fully engine-portable (no
    * hashing). The gram ARRAY is bound once as a lambda value: naively
    * referencing the gram-construction expression from inside the
    * per-distinct-gram lambda re-builds the whole array per outer
    * element under interpreted eval (predicate-pushdown inlines this
    * into filters, where codegen can bail on expression size) —
    * measured 88× slower on q61's gate before the binding. */
  def topNgramFraction(c: Column, n: Int): Column = {
    val toks = tokens(c)
    val gramsExpr = transform(
      sequence(lit(0), greatest(size(toks) - n, lit(0))),
      i => concat_ws(" ", slice(toks, i + 1, lit(n))))
    val frac = transform(array(gramsExpr), gs =>
      array_max(transform(array_distinct(gs), g => size(filter(gs, x => x === g))))
        .cast("double") / greatest(size(gs), lit(1)).cast("double"))
    when(length(trim(c)) === 0, lit(0.0)).otherwise(element_at(frac, 1))
  }

  def bpeishTokenCount(c: Column): Column =
    regexp_count(c, lit(BpeishPattern)).cast("bigint")

  /** Cross-engine-stable token hash: first 8 hex chars of md5 → bigint.
    * (xxhash64 is Spark-private; md5 reproduces in any engine.) */
  /** PII patterns kept to simple character classes so Java regex
    * (Spark) and RE2 (DuckDB) agree byte-for-byte. */
  val EmailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"

  /** KNOWN LIMITATION: `\b` is the strongest boundary RE2 offers (no
    * lookbehind/lookahead), so dotted runs longer than four octets
    * redact partially ("1.2.3.4.5" → "<IP>.5") and out-of-range octets
    * like 999.999.999.999 still match — version-like strings can be
    * over-redacted. The tighter `(?<![.\d])…(?![.\d])` guards are Java-
    * only and would fork Spark and oracle behavior; redaction here errs
    * toward scrubbing too much, never too little. */
  val Ipv4Re = "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b"

  /** Scrub emails then IPv4s to typed placeholders — the pre-release
    * PII pass every published corpus runs. Row-local, codegen'd
    * regexp_replace chain; no shuffle, no UDF. See [[Ipv4Re]] for the
    * boundary-precision limitation. */
  def redactPii(c: Column): Column =
    regexp_replace(regexp_replace(c, EmailRe, "<EMAIL>"), Ipv4Re, "<IP>")

  def tokenHashMd5(t: Column): Column =
    conv(substring(md5(t), 1, 8), 16, 10).cast("long")

  /** Hashed n-gram LINEAR CLASSIFIER score in milli-units — the
    * fastText / GPT-3-quality-filter discipline (Joulin et al. 2016;
    * Brown et al. 2020 §Appendix A), and the selection shape DSIR
    * (Xie et al. 2023) reduces to once its importance weights are
    * estimated: score(doc) = Σ over word uni+bigrams of
    * w(hash(gram) mod `buckets`).
    *
    * The weight table here is a deterministic integer stand-in
    * (w(b) = (b·2654435761 mod 2³¹) mod 2001 − 1000 ∈ [−1000, 1000]
    * milli-units) — in production the weight expression is swapped for
    * trained weights (a broadcast lookup array or a generated CASE);
    * the OPERATOR is the plumbing around it, which is the expensive
    * part at scale. Everything is integer arithmetic on md5 buckets,
    * so a SQL oracle replays scores bit-exactly.
    *
    * One codegen'd [[graft.plans.TextKernels.classifierMilli]] pass — row-local,
    * ZERO shuffle: classifier-scoring a 100 TB corpus is a map-only
    * pass over the scan, the plan you want (a shuffle here would be a
    * design bug). */
  def classifierScoreMilli(c: Column, buckets: Int = 65536): Column =
    ExpressionColumn(ClassifierMilliExpr(expression(c), Literal(buckets)))

  /** Polynomial rolling-hash document fingerprint over token md5-hashes,
    * mod 1e9+7 (modulo applied per step — keeps every intermediate in
    * 35 bits so the same fold works in engines that trap on int64
    * overflow). Fold order = left-to-right, seed = first token hash.
    * One pass of the [[graft.plans.TextKernels.fingerprintMd5]] kernel. */
  def fingerprint(c: Column): Column =
    ExpressionColumn(FingerprintMd5Expr(expression(c)))
}
