package graft.plans

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** One-pass native kernels for the per-row text operators whose HOF
  * forms evaluate interpreted (the [[TextScores]] motivation): the
  * Gopher repetition signals, the md5-token rolling fingerprint, the
  * hashed-gram classifier score, and the dedup-rebuild span filter.
  * Every kernel is VALUE-IDENTICAL to the Column-expression form it
  * replaces — asserted row-for-row (incl. edge cases) in
  * GraftExtensionsSpec against those forms, kept there as references.
  * The kernels are the only implementation the operators build.
  *
  * Why these exist (r9): the bench's count() → noop-sink fix exposed
  * that the output columns of q59/q24/q72 and the q67/q84 rebuilds had
  * never been timed — Catalyst pruned them under count(1). Honestly
  * materialized, the HOF forms cost 0.4–4 ms/row interpreted; the
  * kernels are single-pass loops over the token array.
  */
object TextKernels {

  /** (dup_frac, top2, top3) — [[graft.functions.TextFunctions
    * .dupTokenFraction]] and `topNgramFraction(_, 2 | 3)` in one
    * tokenize + one counting pass. Gram counting is by exact STRING
    * (HashMap), matching the HOF's distinct-gram equality semantics
    * with no hash-collision caveat. */
  def repScores(text: UTF8String): InternalRow = {
    val (toks, trimmedEmpty) = TextScores.tokenize(text)
    if (trimmedEmpty)
      return new GenericInternalRow(Array[Any](0.0, 0.0, 0.0))
    val n = toks.length
    val distinct = new java.util.HashSet[String]()
    // top-n gram fraction, n = 2 and 3: gram i = tokens [i, i+n) with
    // slice truncation at the array end; gramCount = max(n_tok−n,0)+1
    val g2 = new java.util.HashMap[String, Integer]()
    val g3 = new java.util.HashMap[String, Integer]()
    val c2 = math.max(n - 2, 0) + 1
    val c3 = math.max(n - 3, 0) + 1
    var max2 = 0
    var max3 = 0
    var i = 0
    while (i < n) {
      distinct.add(toks(i))
      if (i < c2) {
        val g = if (i + 1 < n) toks(i) + " " + toks(i + 1) else toks(i)
        val c = g2.merge(g, 1, (a, b) => a + b)
        if (c > max2) max2 = c
      }
      if (i < c3) {
        val g =
          if (i + 2 < n) toks(i) + " " + toks(i + 1) + " " + toks(i + 2)
          else if (i + 1 < n) toks(i) + " " + toks(i + 1)
          else toks(i)
        val c = g3.merge(g, 1, (a, b) => a + b)
        if (c > max3) max3 = c
      }
      i += 1
    }
    val dup = 1.0 - distinct.size.toDouble / math.max(n, 1).toDouble
    new GenericInternalRow(Array[Any](dup,
      max2.toDouble / math.max(c2, 1).toDouble,
      max3.toDouble / math.max(c3, 1).toDouble))
  }

  val RepSchema: StructType = StructType(Seq(
    StructField("dup_frac", DoubleType, nullable = false),
    StructField("top2", DoubleType, nullable = false),
    StructField("top3", DoubleType, nullable = false)))

  /** [[graft.functions.TextFunctions.tokenCount]] as one byte scan —
    * no lower/regexp_replace/split, no token array. The Column form is
    * `when(length(trim(c)) = 0, 0) otherwise size(split(regexp_replace(
    * lower(trim(c)), "\s+", " "), " "))`; after space-trimming a
    * non-empty string, the collapsed form's split size is exactly
    * 1 + (number of maximal Java-`\s` runs) — including the leading/
    * trailing empty strings a tab-padded string produces, so the
    * equivalence is EXACT, not just for tidy input. Java `\s` is
    * {0x09..0x0D, 0x20}, all ASCII, and UTF-8 continuation bytes have
    * the high bit set — a byte scan cannot misread multi-byte chars. */
  def tokenCount(text: UTF8String): Long = {
    val b = text.getBytes
    var lo = 0
    var hi = b.length - 1
    // the Column form trims SPACES only (Spark trim), not all \s
    while (lo <= hi && b(lo) == 0x20) lo += 1
    while (hi >= lo && b(hi) == 0x20) hi -= 1
    if (lo > hi) return 0L
    var runs = 0L
    var inWs = false
    var i = lo
    while (i <= hi) {
      val c = b(i)
      val ws = c == 0x20 || (c >= 0x09 && c <= 0x0d)
      if (ws && !inWs) runs += 1
      inWs = ws
      i += 1
    }
    runs + 1
  }

  /** conv(substring(md5(token),1,8),16,10) — the first four MD5 bytes
    * of the token's UTF-8 form as an unsigned 32-bit value, without
    * the hex-string round-trip. */
  private def md5Head(md: java.security.MessageDigest, t: String): Long = {
    md.reset()
    val d = md.digest(t.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    ((d(0) & 0xffL) << 24) | ((d(1) & 0xffL) << 16) |
      ((d(2) & 0xffL) << 8) | (d(3) & 0xffL)
  }

  /** [[graft.functions.TextFunctions.fingerprint]]: left fold
    * acc → (acc·31 + h) mod 1e9+7, seeded with the first token's
    * hash. */
  def fingerprintMd5(text: UTF8String): Long = {
    val (toks, _) = TextScores.tokenize(text)
    val md = java.security.MessageDigest.getInstance("MD5")
    var acc = md5Head(md, toks(0))
    var i = 1
    while (i < toks.length) {
      acc = (acc * 31L + md5Head(md, toks(i))) % 1000000007L
      i += 1
    }
    acc
  }

  /** [[graft.functions.TextFunctions.classifierScoreMilli]]: Σ over
    * word uni+bigrams of w(md5-bucket), w(b) = (b·2654435761 mod 2³¹)
    * mod 2001 − 1000. All operands non-negative, so Java % equals the
    * Column form's %. */
  def classifierMilli(text: UTF8String, buckets: Int): Long = {
    val (toks, _) = TextScores.tokenize(text)
    val md = java.security.MessageDigest.getInstance("MD5")
    val b = buckets.toLong
    var acc = 0L
    var i = 0
    val n = toks.length
    while (i < n) {
      val bkt = md5Head(md, toks(i)) % b
      acc += bkt * 2654435761L % 2147483648L % 2001L - 1000L
      if (i + 1 < n) {
        val bkt2 = md5Head(md, toks(i) + "_" + toks(i + 1)) % b
        acc += bkt2 * 2654435761L % 2147483648L % 2001L - 1000L
      }
      i += 1
    }
    acc
  }

  /** The q67/q84 REBUILD: tokens outside every [start, start+span)
    * range re-joined with single spaces → (text, n_tokens_kept,
    * n_tokens_total). One coverage pass instead of the HOF's
    * O(tokens × ranges) exists() scan — twice (the HOF form computes
    * the filtered array once for the text and once for the count). */
  def dropTokenSpans(text: UTF8String, starts: ArrayData, span: Int): InternalRow = {
    val (toks, _) = TextScores.tokenize(text)
    val n = toks.length
    val covered = new Array[Boolean](n)
    var si = 0
    val ns = starts.numElements()
    while (si < ns) {
      var p = starts.getInt(si)
      val end = math.min(math.addExact(p, span), n)
      if (p < 0) p = 0
      while (p < end) { covered(p) = true; p += 1 }
      si += 1
    }
    val sb = new java.lang.StringBuilder()
    var kept = 0
    var i = 0
    while (i < n) {
      if (!covered(i)) {
        if (kept > 0) sb.append(' ')
        sb.append(toks(i))
        kept += 1
      }
      i += 1
    }
    new GenericInternalRow(Array[Any](
      UTF8String.fromString(sb.toString), kept.toLong, n.toLong))
  }

  val DropSchema: StructType = StructType(Seq(
    StructField("text", StringType, nullable = false),
    StructField("n_kept", LongType, nullable = false),
    StructField("n_total", LongType, nullable = false)))

  // ---- q60 regex-free PII scanners --------------------------------------
  // EmailRe = [A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}
  // Ipv4Re  = \b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b
  // Both grammars are tiny ASCII-only regular languages, so matching runs
  // directly over the UTF-8 bytes: every byte of a multi-byte code point
  // is >= 0x80 and falls outside every character class, which preserves
  // java.util.regex leftmost-greedy semantics byte-for-byte. The one
  // construct that IS Unicode-sensitive in java.util.regex — \b, whose
  // Bound node tests `ch == '_' || Character.isLetterOrDigit(ch)` rather
  // than ASCII \w — is reproduced by decoding only the single code point
  // adjacent to a candidate match. Bit-equality with the Column chain
  // (regexp_count/regexp_replace on the same patterns) is asserted in
  // GraftExtensionsSpec incl. unicode edges.

  private val EmailTag = "<EMAIL>".getBytes(java.nio.charset.StandardCharsets.US_ASCII)
  private val IpTag = "<IP>".getBytes(java.nio.charset.StandardCharsets.US_ASCII)

  @inline private def isAlphaB(c: Int): Boolean =
    (c >= 'A' && c <= 'Z') || (c >= 'a' && c <= 'z')
  @inline private def isDigitB(c: Int): Boolean = c >= '0' && c <= '9'
  @inline private def isLocalB(c: Int): Boolean =
    isAlphaB(c) || isDigitB(c) || c == '.' || c == '_' || c == '%' ||
      c == '+' || c == '-'
  @inline private def isDomainB(c: Int): Boolean =
    isAlphaB(c) || isDigitB(c) || c == '.' || c == '-'

  /** java.util.regex \b word test for the code point whose UTF-8
    * encoding STARTS at byte `i` (limit `n` exclusive). Invalid
    * sequences decode to nothing → non-word, matching the U+FFFD the
    * String path would see. */
  private def isWordForward(b: Array[Byte], n: Int, i: Int): Boolean = {
    val b0 = b(i) & 0xff
    if (b0 < 0x80) return b0 == '_' || isAlphaB(b0) || isDigitB(b0)
    var cp = 0
    var len = 0
    if (b0 >= 0xf0) { cp = b0 & 0x07; len = 4 }
    else if (b0 >= 0xe0) { cp = b0 & 0x0f; len = 3 }
    else if (b0 >= 0xc0) { cp = b0 & 0x1f; len = 2 }
    else return false // bare continuation byte
    var k = 1
    while (k < len) {
      if (i + k >= n || (b(i + k) & 0xc0) != 0x80) return false
      cp = (cp << 6) | (b(i + k) & 0x3f)
      k += 1
    }
    Character.isLetterOrDigit(cp)
  }

  /** Same \b word test for the code point whose encoding ENDS at byte
    * `i` (inclusive). */
  private def isWordBackward(b: Array[Byte], i: Int): Boolean = {
    if ((b(i) & 0xff) < 0x80)
      return { val c = b(i) & 0xff; c == '_' || isAlphaB(c) || isDigitB(c) }
    var s = i
    while (s > 0 && (b(s) & 0xc0) == 0x80) s -= 1
    isWordForward(b, i + 1, s)
  }

  /** One leftmost-greedy EmailRe walk: counts matches and (when `out`
    * is non-null) writes the `<EMAIL>`-redacted bytes. Local part is a
    * maximal `[A-Za-z0-9._%+-]` run (the class excludes '@', so greedy
    * backtracking never shortens it and any start inside a failing run
    * also fails); the domain's `\.[A-Za-z]{2,}` backtrack is the
    * largest x with `b(x)=='.'` and two alphas following — x > e-3 can
    * never match because alpha ⊂ domain-class keeps alpha runs inside
    * the domain run. */
  private def emailPass(b: Array[Byte],
      out: java.io.ByteArrayOutputStream): Long = {
    val n = b.length
    var count = 0L
    var copied = 0
    var i = 0
    while (i < n) {
      if (!isLocalB(b(i) & 0xff)) i += 1
      else {
        var t = i + 1
        while (t < n && isLocalB(b(t) & 0xff)) t += 1
        if (t < n && b(t) == '@') {
          var e = t + 1
          while (e < n && isDomainB(b(e) & 0xff)) e += 1
          var matchEnd = -1
          var x = e - 3
          while (x >= t + 2 && matchEnd < 0) {
            if (b(x) == '.' && isAlphaB(b(x + 1) & 0xff) &&
                isAlphaB(b(x + 2) & 0xff)) {
              var q = x + 3
              while (q < e && isAlphaB(b(q) & 0xff)) q += 1
              matchEnd = q
            } else x -= 1
          }
          if (matchEnd >= 0) {
            count += 1
            if (out != null) {
              out.write(b, copied, i - copied)
              out.write(EmailTag, 0, EmailTag.length)
              copied = matchEnd
            }
            i = matchEnd
          } else i = t + 1
        } else i = t + 1
      }
    }
    if (out != null) out.write(b, copied, n - copied)
    count
  }

  /** One Ipv4Re match attempt at `start` (a digit already known to sit
    * on a \b). Returns the exclusive end or -1. Each `\d{1,3}` must
    * consume its whole digit run (1–3 digits — giving digits back puts
    * a digit where `\.`/`\b` needs a non-word byte, so all java
    * backtracks fail identically). */
  private def ipv4Match(b: Array[Byte], n: Int, start: Int): Int = {
    var p = start
    var oct = 0
    while (oct < 4) {
      val runStart = p
      while (p < n && isDigitB(b(p) & 0xff)) p += 1
      val r = p - runStart
      if (r < 1 || r > 3) return -1
      if (oct < 3) {
        if (p >= n || b(p) != '.') return -1
        p += 1
      } else if (p < n && isWordForward(b, n, p)) return -1
      oct += 1
    }
    p
  }

  /** One Ipv4Re walk: counts matches and (when `out` is non-null)
    * writes the `<IP>`-redacted bytes. */
  private def ipv4Pass(b: Array[Byte],
      out: java.io.ByteArrayOutputStream): Long = {
    val n = b.length
    var count = 0L
    var copied = 0
    var i = 0
    while (i < n) {
      if (!isDigitB(b(i) & 0xff)) i += 1
      else if (i > 0 && isWordBackward(b, i - 1)) {
        // no \b anywhere inside this digit run — skip it whole
        i += 1
        while (i < n && isDigitB(b(i) & 0xff)) i += 1
      } else {
        val end = ipv4Match(b, n, i)
        if (end > 0) {
          count += 1
          if (out != null) {
            out.write(b, copied, i - copied)
            out.write(IpTag, 0, IpTag.length)
            copied = end
          }
          i = end
        } else i += 1
      }
    }
    if (out != null) out.write(b, copied, n - copied)
    count
  }

  private val Md5Local =
    new ThreadLocal[java.security.MessageDigest] {
      override def initialValue(): java.security.MessageDigest =
        java.security.MessageDigest.getInstance("MD5")
    }

  // ---- q03 fast-path JSON long-field extraction --------------------------
  // `json_long(doc, field)` ≡ `from_json(doc, struct<field:bigint>).field`.
  // The fast path scans the UTF-8 bytes of a FLAT object whose values are
  // canonical integers, escape-free strings, or true/false/null; ANY
  // deviation (nesting, escapes, floats, >18-digit ints, control bytes,
  // trailing content, type-mismatched target…) bails to a cached
  // JsonToStructs — Spark's own from_json — so semantics are exactly
  // from_json BY CONSTRUCTION, not by re-implementation. On clean rows
  // the fast path replaces a per-row Jackson parser instantiation with a
  // single branchy byte walk.

  private final class JsonSlow(field: String) {
    private val expr = org.apache.spark.sql.catalyst.expressions.JsonToStructs(
      StructType(Seq(StructField(field, LongType))), Map.empty[String, String],
      org.apache.spark.sql.catalyst.expressions.BoundReference(
        0, StringType, nullable = true),
      Some("UTC"))
    private val row = new GenericInternalRow(1)
    def eval(text: UTF8String): java.lang.Long = {
      row.update(0, text)
      expr.eval(row) match {
        case null => null
        case r: InternalRow => if (r.isNullAt(0)) null
          else java.lang.Long.valueOf(r.getLong(0))
      }
    }
  }

  /** The PERMISSIVE-with-corrupt-column twin — exactly
    * [[graft.operators.Normalize.parseJsonWithQuarantine]]'s from_json
    * call: yields (field value, corrupt-record-non-null). */
  private final class JsonSlowQuarantine(field: String) {
    private val corrupt = "_corrupt_record"
    private val expr = org.apache.spark.sql.catalyst.expressions.JsonToStructs(
      StructType(Seq(StructField(field, LongType),
        StructField(corrupt, StringType))),
      Map("mode" -> "PERMISSIVE", "columnNameOfCorruptRecord" -> corrupt),
      org.apache.spark.sql.catalyst.expressions.BoundReference(
        0, StringType, nullable = true),
      Some("UTC"))
    private val row = new GenericInternalRow(1)
    def eval(text: UTF8String): InternalRow = {
      row.update(0, text)
      expr.eval(row) match {
        case null => new GenericInternalRow(Array[Any](null, false))
        case r: InternalRow => new GenericInternalRow(Array[Any](
          if (r.isNullAt(0)) null else java.lang.Long.valueOf(r.getLong(0)),
          !r.isNullAt(1)))
      }
    }
  }

  private val JsonSlowLocal =
    new ThreadLocal[java.util.HashMap[String, JsonSlow]] {
      override def initialValue(): java.util.HashMap[String, JsonSlow] =
        new java.util.HashMap[String, JsonSlow]
    }
  private val JsonSlowQLocal =
    new ThreadLocal[java.util.HashMap[String, JsonSlowQuarantine]] {
      override def initialValue(): java.util.HashMap[String, JsonSlowQuarantine] =
        new java.util.HashMap[String, JsonSlowQuarantine]
    }

  private def jsonLongSlow(text: UTF8String, field: UTF8String): java.lang.Long = {
    val key = field.toString
    val cache = JsonSlowLocal.get()
    var slow = cache.get(key)
    if (slow == null) { slow = new JsonSlow(key); cache.put(key, slow) }
    slow.eval(text)
  }

  private def jsonScanSlow(text: UTF8String, field: UTF8String): InternalRow = {
    val key = field.toString
    val cache = JsonSlowQLocal.get()
    var slow = cache.get(key)
    if (slow == null) { slow = new JsonSlowQuarantine(key); cache.put(key, slow) }
    slow.eval(text)
  }

  /** Fast-path bail sentinel: the flat-object scanner met something
    * outside its strict subset — delegate to the real from_json. */
  private val JsonBail = new Object

  // ---- q06 exception-free safe casts -------------------------------------
  // Under ANSI mode (the Spark 4 default) `try_cast` evaluates
  // Cast(TRY), whose failure path THROWS per row and catches — ~20 µs
  // per unparseable value (r10 profile: q06's two never-parseable
  // columns cost 0.45 s over 20k rows at sf0.1, 2.5× the whole rest of
  // the query). The scanners below decide the two CERTAIN outcomes
  // over the UTF-8 bytes without any exception:
  //   - certain VALUE: canonical [+-]?digits (long; ≤18 digits) or a
  //     ≤15-significant-digit decimal (double — exact-in-IEEE mantissa
  //     ÷ exact power of ten is correctly rounded, so it equals
  //     parseDouble bit-for-bit);
  //   - certain NULL: any ASCII byte that can appear in NO valid
  //     numeric literal of the target type (letters for long; letters
  //     outside the Infinity/NaN/exponent/hex-float alphabet for
  //     double);
  //   - anything else (whitespace padding, multiple signs, huge
  //     mantissas, non-ASCII) BAILS to a cached real Cast(TRY) eval —
  //     semantics are try_cast BY CONSTRUCTION on every input
  //     (GraftExtensionsSpec fuzzes the equality).

  private final class TryCastSlow(target: DataType) {
    private val expr = org.apache.spark.sql.catalyst.expressions.Cast(
      org.apache.spark.sql.catalyst.expressions.BoundReference(
        0, StringType, nullable = true),
      target, Some("UTC"),
      org.apache.spark.sql.catalyst.expressions.EvalMode.TRY)
    private val row = new GenericInternalRow(1)
    def eval(text: UTF8String): Any = {
      row.update(0, text)
      expr.eval(row)
    }
  }

  private val LongCastLocal = new ThreadLocal[TryCastSlow] {
    override def initialValue(): TryCastSlow = new TryCastSlow(LongType)
  }
  private val DoubleCastLocal = new ThreadLocal[TryCastSlow] {
    override def initialValue(): TryCastSlow = new TryCastSlow(DoubleType)
  }

  @inline private def isWsB(c: Int): Boolean = (c >= 0x09 && c <= 0x0d) || c == 0x20

  /** `safe_long(s)` ≡ `try_cast(s AS BIGINT)`, boxed Long or null,
    * without a per-row exception on unparseable input. */
  def safeLong(text: UTF8String): java.lang.Long = {
    val b = text.getBytes
    val n = b.length
    if (n == 0) return null
    // pass 1: classify bytes
    var i = 0
    var certainNull = false
    var clean = true // canonical [+-]?digits with no ws
    while (i < n && !certainNull) {
      val c = b(i) & 0xff
      if (isDigitB(c)) ()
      else if ((c == '+' || c == '-') && i == 0) ()
      else if (c < 0x80 && !isWsB(c) && c != '+' && c != '-') {
        // an ASCII byte no valid long literal can contain → null
        certainNull = true
      } else clean = false // ws / misplaced sign / non-ASCII → ambiguous
      i += 1
    }
    if (certainNull) return null
    if (clean) {
      val neg = b(0) == '-'
      val ds = if (b(0) == '+' || b(0) == '-') 1 else 0
      val nd = n - ds
      if (nd >= 1 && nd <= 18) {
        var v = 0L
        var p = ds
        while (p < n) { v = v * 10 + (b(p) - '0'); p += 1 }
        return java.lang.Long.valueOf(if (neg) -v else v)
      }
    }
    LongCastLocal.get().eval(text).asInstanceOf[java.lang.Long]
  }

  // letters that can appear in SOME valid double literal: exponent
  // markers, hex-float syntax (0x1.8p1), type suffixes (1.5f/1.5d),
  // Infinity / NaN in any case
  private val DoubleLetterOk: Array[Boolean] = {
    val ok = new Array[Boolean](128)
    "eExXpPaAbBcCdDfFiInNtTyY".foreach(ch => ok(ch) = true)
    ok
  }

  /** `safe_double(s)` ≡ `try_cast(s AS DOUBLE)`, boxed Double or null,
    * without a per-row exception on unparseable input. */
  def safeDouble(text: UTF8String): java.lang.Double = {
    val b = text.getBytes
    val n = b.length
    if (n == 0) return null
    var i = 0
    var certainNull = false
    var clean = true // canonical [+-]?digits[.digits]?
    var dot = -1
    while (i < n && !certainNull) {
      val c = b(i) & 0xff
      if (isDigitB(c)) ()
      else if ((c == '+' || c == '-') && i == 0) ()
      else if (c == '.' && dot < 0) dot = i
      else if (c < 0x80 && !isWsB(c) && c != '+' && c != '-' && c != '.' &&
          !DoubleLetterOk(c)) {
        certainNull = true
      } else clean = false
      i += 1
    }
    if (certainNull) return null
    if (clean) {
      val ds = if (b(0) == '+' || b(0) == '-') 1 else 0
      val neg = b(0) == '-'
      val intLen = (if (dot >= 0) dot else n) - ds
      val fracLen = if (dot >= 0) n - dot - 1 else 0
      val sig = intLen + fracLen
      if (intLen + fracLen >= 1 && sig <= 15 && fracLen <= 15 &&
          !(dot >= 0 && intLen == 0 && fracLen == 0)) {
        var m = 0L
        var p = ds
        while (p < n) {
          if (p != dot) m = m * 10 + (b(p) - '0')
          p += 1
        }
        var pow = 1.0
        var k = 0
        while (k < fracLen) { pow *= 10.0; k += 1 }
        val v = m.toDouble / pow
        return java.lang.Double.valueOf(if (neg) -v else v)
      }
    }
    DoubleCastLocal.get().eval(text).asInstanceOf[java.lang.Double]
  }

  val JsonScanSchema: StructType = StructType(Seq(
    StructField("val", LongType),
    StructField("corrupt", BooleanType, nullable = false)))

  /** `json_scan(doc, field)` → struct<val bigint, corrupt boolean> ≡
    * PERMISSIVE from_json with a corrupt-record column: val =
    * parsed.field, corrupt = corrupt-record non-null. Same fast
    * scanner as [[jsonLong]]; the strict subset is by construction
    * never corrupt. */
  def jsonScan(text: UTF8String, field: UTF8String): InternalRow =
    jsonLongFast(text, field) match {
      case JsonBail => jsonScanSlow(text, field)
      case v => new GenericInternalRow(Array[Any](v, false))
    }

  @inline private def isJsonWs(c: Int): Boolean =
    c == ' ' || c == '\t' || c == '\n' || c == '\r'

  /** `json_long(doc, field)` ≡ `from_json(doc, struct<field:bigint>)
    * .field`, boxed Long or null: the flat-object byte scan, with an
    * exact from_json fallback for anything it does not take. */
  def jsonLong(text: UTF8String, field: UTF8String): java.lang.Long =
    jsonLongFast(text, field) match {
      case JsonBail => jsonLongSlow(text, field)
      case v => v.asInstanceOf[java.lang.Long]
    }

  /** The shared flat-object byte scanner: boxed Long / null on the
    * strict subset, [[JsonBail]] on anything else. */
  private def jsonLongFast(text: UTF8String, field: UTF8String): AnyRef = {
    val b = text.getBytes
    val n = b.length
    val f = field.getBytes
    var result: java.lang.Long = null
    var i = 0
    while (i < n && isJsonWs(b(i) & 0xff)) i += 1
    if (i >= n || b(i) != '{') return JsonBail
    i += 1
    while (i < n && isJsonWs(b(i) & 0xff)) i += 1
    if (i < n && b(i) == '}') {
      i += 1
      while (i < n && isJsonWs(b(i) & 0xff)) i += 1
      return if (i == n) null else JsonBail
    }
    while (true) {
      // "key"
      if (i >= n || b(i) != '"') return JsonBail
      val ks = i + 1
      var j = ks
      while (j < n && b(j) != '"' && b(j) != '\\' && (b(j) & 0xff) >= 0x20) j += 1
      if (j >= n || b(j) != '"') return JsonBail
      var isTarget = (j - ks) == f.length
      if (isTarget) {
        var k = 0
        while (isTarget && k < f.length) { isTarget = b(ks + k) == f(k); k += 1 }
      }
      i = j + 1
      while (i < n && isJsonWs(b(i) & 0xff)) i += 1
      if (i >= n || b(i) != ':') return JsonBail
      i += 1
      while (i < n && isJsonWs(b(i) & 0xff)) i += 1
      if (i >= n) return JsonBail
      // value
      val c = b(i) & 0xff
      if (c == '-' || (c >= '0' && c <= '9')) {
        var p = i
        val neg = c == '-'
        if (neg) p += 1
        val ds = p
        var v = 0L
        while (p < n && (b(p) & 0xff) >= '0' && (b(p) & 0xff) <= '9') {
          if (p - ds >= 18) return JsonBail
          v = v * 10 + (b(p) - '0')
          p += 1
        }
        if (p == ds) return JsonBail // "-" with no digits
        if (b(ds) == '0' && p - ds > 1) return JsonBail
        if (p < n && (b(p) == '.' || b(p) == 'e' || b(p) == 'E'))
          return JsonBail
        if (isTarget) result = java.lang.Long.valueOf(if (neg) -v else v)
        i = p
      } else if (c == '"') {
        if (isTarget) return JsonBail // target type mismatch
        var j2 = i + 1
        while (j2 < n && b(j2) != '"' && b(j2) != '\\' && (b(j2) & 0xff) >= 0x20) j2 += 1
        if (j2 >= n || b(j2) != '"') return JsonBail
        i = j2 + 1
      } else if (n - i >= 4 && b(i) == 'n' && b(i + 1) == 'u' && b(i + 2) == 'l' &&
          b(i + 3) == 'l') {
        if (isTarget) result = null
        i += 4
      } else if (n - i >= 4 && b(i) == 't' && b(i + 1) == 'r' && b(i + 2) == 'u' &&
          b(i + 3) == 'e') {
        if (isTarget) return JsonBail
        i += 4
      } else if (n - i >= 5 && b(i) == 'f' && b(i + 1) == 'a' && b(i + 2) == 'l' &&
          b(i + 3) == 's' && b(i + 4) == 'e') {
        if (isTarget) return JsonBail
        i += 5
      } else return JsonBail // nesting or malformed
      while (i < n && isJsonWs(b(i) & 0xff)) i += 1
      if (i < n && b(i) == ',') {
        i += 1
        while (i < n && isJsonWs(b(i) & 0xff)) i += 1
      } else if (i < n && b(i) == '}') {
        i += 1
        while (i < n && isJsonWs(b(i) & 0xff)) i += 1
        return if (i == n) result else JsonBail
      } else return JsonBail
    }
    null // unreachable
  }

  /** Strict well-formed-UTF-8 check (RFC 3629: no overlongs, no
    * encoded surrogates, max U+10FFFF). When this holds,
    * `new String(bytes, UTF_8).getBytes(UTF_8)` is the identity, so
    * byte-level scanners and the String-round-tripping Column chain
    * see the same content; when it does not hold the Column chain
    * would substitute U+FFFD — [[piiScan]] falls back to that
    * round-trip for such rows so the two paths stay bit-equal. */
  private[graft] def isWellFormedUtf8(b: Array[Byte]): Boolean = {
    val n = b.length
    var i = 0
    while (i < n) {
      val c = b(i) & 0xff
      if (c < 0x80) i += 1
      else if (c < 0xc2) return false // continuation or overlong lead
      else if (c < 0xe0) { // 2-byte
        if (i + 1 >= n || (b(i + 1) & 0xc0) != 0x80) return false
        i += 2
      } else if (c < 0xf0) { // 3-byte
        if (i + 2 >= n) return false
        val c1 = b(i + 1) & 0xff
        val lo = if (c == 0xe0) 0xa0 else 0x80
        val hi = if (c == 0xed) 0x9f else 0xbf // exclude surrogates
        if (c1 < lo || c1 > hi || (b(i + 2) & 0xc0) != 0x80) return false
        i += 3
      } else if (c < 0xf5) { // 4-byte
        if (i + 3 >= n) return false
        val c1 = b(i + 1) & 0xff
        val lo = if (c == 0xf0) 0x90 else 0x80
        val hi = if (c == 0xf4) 0x8f else 0xbf // cap at U+10FFFF
        if (c1 < lo || c1 > hi || (b(i + 2) & 0xc0) != 0x80 ||
          (b(i + 3) & 0xc0) != 0x80) return false
        i += 4
      } else return false
    }
    true
  }

  /** The q60 PII pass fused AND regex-free: (n_emails, n_ips, md5 of
    * the email→IPv4-redacted text). Same observable semantics as the
    * Column chain (emails count+replace on the original, IPs counted
    * on the ORIGINAL text, IP replace on the email-redacted text), but
    * via the byte scanners above — no regex engine, no UTF-16 decode,
    * MD5 over the redacted UTF-8 bytes directly. */
  def piiScan(text: UTF8String): InternalRow = {
    val rawBytes = text.getBytes
    // Ill-formed UTF-8: the Column-chain oracle decodes to String
    // (replacing bad sequences with U+FFFD) before scanning, so its
    // counts and md5 are over the REPLACED text — take the same
    // round-trip here; the well-formed re-encoding then makes the
    // byte scanners exact again.
    val bytes =
      if (isWellFormedUtf8(rawBytes)) rawBytes
      else UTF8String.fromString(text.toString).getBytes
    val out1 = new java.io.ByteArrayOutputStream(bytes.length + 8)
    val nEmails = emailPass(bytes, out1)
    val nIps = ipv4Pass(bytes, null)
    val afterEmail = if (nEmails == 0) bytes else out1.toByteArray
    val out2 = new java.io.ByteArrayOutputStream(afterEmail.length + 8)
    val nIpsRedacted = ipv4Pass(afterEmail, out2)
    val redacted = if (nIpsRedacted == 0) afterEmail else out2.toByteArray
    val md = Md5Local.get()
    md.reset()
    val dig = md.digest(redacted)
    val hex = new java.lang.StringBuilder(32)
    var i = 0
    while (i < dig.length) {
      hex.append(Character.forDigit((dig(i) >> 4) & 0xf, 16))
      hex.append(Character.forDigit(dig(i) & 0xf, 16))
      i += 1
    }
    new GenericInternalRow(Array[Any](nEmails, nIps,
      UTF8String.fromString(hex.toString)))
  }

  val PiiSchema: StructType = StructType(Seq(
    StructField("n_emails", LongType, nullable = false),
    StructField("n_ips", LongType, nullable = false),
    StructField("redacted_md5", StringType, nullable = false)))

  /** [[graft.operators.TextDedup.chunkHashes]]'s per-chunk values:
    * xxhash64 (seed 42 — Spark's own `xxhash64`) of each
    * `chunkTokens`-token chunk STRING, so the kernel's values are
    * BIT-IDENTICAL to the Column form and chunk-hash stores stay
    * path-independent (unlike the flavor-bound window_hashes mix).
    * One tokenize + one builder pass per chunk instead of the
    * interpreted transform/concat_ws/slice chain. */
  def chunkHashes(text: UTF8String, chunkTokens: Int): ArrayData = {
    val (toks, _) = TextScores.tokenize(text)
    val n = toks.length
    val nChunks = math.max((n + chunkTokens - 1) / chunkTokens, 1)
    val out = new Array[Long](nChunks)
    val sb = new java.lang.StringBuilder()
    var c = 0
    while (c < nChunks) {
      sb.setLength(0)
      var i = c * chunkTokens
      val end = math.min(i + chunkTokens, n)
      var first = true
      while (i < end) {
        // element flag, NOT sb.length — concat_ws separates empty
        // tokens too ([""] ++ [""] joins to " ")
        if (!first) sb.append(' ')
        first = false
        sb.append(toks(i))
        i += 1
      }
      out(c) = org.apache.spark.sql.catalyst.expressions.XxHash64Function
        .hash(UTF8String.fromString(sb.toString),
          org.apache.spark.sql.types.StringType, 42L)
      c += 1
    }
    new GenericArrayData(out)
  }

  /** Element-wise pmod of a long array — value-identical to
    * `transform(arr, h => pmod(h, m))`, whose HOF presence forces the
    * surrounding projection interpreted (the token_hashes motivation
    * applied to the minhash shingle chain). */
  def arrayPmod(arr: ArrayData, m: Long): ArrayData = {
    val n = arr.numElements()
    val out = new Array[Long](n)
    var i = 0
    while (i < n) {
      val r = arr.getLong(i) % m
      out(i) = if (r < 0) r + m else r
      i += 1
    }
    new GenericArrayData(out)
  }

  /** xxhash64 (seed 42 — Spark's `xxhash64`) of every token,
    * BIT-IDENTICAL to `transform(tokens(text), xxhash64)` — the HOF
    * form evaluates interpreted (one projection dispatch per token);
    * this is one tokenize + one hash loop. Feeds shingle_hashes /
    * window_hashes / minhash_sig without changing any downstream hash
    * value, so persisted signature/band artifacts interoperate. */
  def tokenHashes(text: UTF8String): ArrayData = {
    val (toks, _) = TextScores.tokenize(text)
    val out = new Array[Long](toks.length)
    var i = 0
    while (i < toks.length) {
      out(i) = org.apache.spark.sql.catalyst.expressions.XxHash64Function
        .hash(UTF8String.fromString(toks(i)),
          org.apache.spark.sql.types.StringType, 42L)
      i += 1
    }
    new GenericArrayData(out)
  }

  /** [[graft.operators.ImportanceModel.gramBuckets]]: md5 bucket ids
    * of the word uni+bigrams, unigrams first then bigrams (the HOF
    * concat order). Feeds the training explode without the
    * interpreted per-gram md5-hex-conv chain. */
  def gramBuckets(text: UTF8String, buckets: Int): ArrayData = {
    val (toks, _) = TextScores.tokenize(text)
    val md = java.security.MessageDigest.getInstance("MD5")
    val b = buckets.toLong
    val n = toks.length
    val out = new Array[Long](n + math.max(n - 1, 0))
    var i = 0
    while (i < n) {
      out(i) = md5Head(md, toks(i)) % b
      if (i + 1 < n) out(n + i) = md5Head(md, toks(i) + "_" + toks(i + 1)) % b
      i += 1
    }
    new GenericArrayData(out)
  }

  /** [[graft.operators.ImportanceModel.score]] as a map-only pass:
    * Σ over word uni+bigrams of weightsByBucket(md5-bucket(gram)) —
    * the trained-weight sibling of [[classifierMilli]]. The bucket
    * count is the array length; unseen buckets carry 0. */
  def classifierWeighted(text: UTF8String, weights: ArrayData): Long = {
    val (toks, _) = TextScores.tokenize(text)
    val md = java.security.MessageDigest.getInstance("MD5")
    val b = weights.numElements().toLong
    var acc = 0L
    var i = 0
    val n = toks.length
    while (i < n) {
      acc += weights.getLong((md5Head(md, toks(i)) % b).toInt)
      if (i + 1 < n)
        acc += weights.getLong((md5Head(md, toks(i) + "_" + toks(i + 1)) % b).toInt)
      i += 1
    }
    acc
  }

  /** [[graft.operators.Bpe.subwordCount]]: Σ over non-empty tokens of
    * the symbol count after applying the merge table in rank order —
    * char symbols (code-point granular, regex zero-width matches never
    * split a surrogate pair, matching Spark's split-by-"" semantics)
    * with `</w>` on the word-final symbol, each merge applied
    * leftmost-first non-overlapping (the applyMerge fold). The HOF
    * form nests one interpreted fold per merge per word; this is
    * |merges| array passes in Java. */
  def subwordCount(text: UTF8String, lefts: ArrayData, rights: ArrayData): Long = {
    val (toks, _) = TextScores.tokenize(text)
    val nm = lefts.numElements()
    val ls = new Array[String](nm)
    val rs = new Array[String](nm)
    var m = 0
    while (m < nm) {
      ls(m) = lefts.getUTF8String(m).toString
      rs(m) = rights.getUTF8String(m).toString
      m += 1
    }
    var total = 0L
    var ti = 0
    while (ti < toks.length) {
      val w = toks(ti)
      if (w.nonEmpty) {
        // char symbols by code point, "</w>" appended to the last
        var syms = new java.util.ArrayList[String](w.length + 1)
        var i = 0
        while (i < w.length) {
          val cp = w.codePointAt(i)
          val n = Character.charCount(cp)
          syms.add(w.substring(i, i + n))
          i += n
        }
        syms.set(syms.size - 1, syms.get(syms.size - 1) + "</w>")
        m = 0
        while (m < nm) {
          val a = ls(m)
          val b = rs(m)
          val ab = a + b
          val out = new java.util.ArrayList[String](syms.size)
          var j = 0
          while (j < syms.size) {
            val s = syms.get(j)
            if (!out.isEmpty && out.get(out.size - 1) == a && s == b)
              out.set(out.size - 1, ab)
            else out.add(s)
            j += 1
          }
          syms = out
          m += 1
        }
        total += syms.size
      }
      ti += 1
    }
    total
  }
}
