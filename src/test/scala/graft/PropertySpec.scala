package graft

import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

import graft.operators.{AsOfJoin, Dedup, Incremental, Sessionize}

/** Property-based checks of the load-semantics algebra: invariants that
  * must hold for ANY input, not just the fixtures (scalacheck
  * generators sampled with fixed seeds — deterministic CI). */
class PropertySpec extends SparkTestBase {
  import spark.implicits._

  private def samples[A](g: Gen[A], n: Int): Seq[A] =
    (1 to n).flatMap(i => g.apply(Gen.Parameters.default, Seed(i.toLong)))

  private val rowsGen: Gen[List[(Long, Long, String)]] =
    Gen.listOfN(40, for {
      k <- Gen.choose(0L, 7L)
      seq <- Gen.choose(0L, 100L)
      v <- Gen.alphaStr.map(_.take(5))
    } yield (k, seq, v))

  test("keepLast: one row per key, and it carries the max order value") {
    samples(rowsGen, 8).foreach { rows =>
      if (rows.nonEmpty) {
        val df = rows.toDF("k", "seq", "v")
        val out = Dedup.keepLast(df, Seq("k"), Seq(col("seq"), col("v")))
          .collect().map(r => (r.getLong(0), r.getLong(1))).toList
        val keys = out.map(_._1)
        assert(keys.distinct.size == keys.size, "duplicate keys survived")
        assert(keys.toSet == rows.map(_._1).toSet, "keys lost or invented")
        val maxSeq = rows.groupBy(_._1).view.mapValues(_.map(_._2).max).toMap
        out.foreach { case (k, s) => assert(s == maxSeq(k), s"key $k kept seq $s != max ${maxSeq(k)}") }
      }
    }
  }

  test("upsert is idempotent and key-complete") {
    samples(rowsGen.flatMap(a => rowsGen.map(b => (a, b))), 6).foreach { case (baseRows, updRows) =>
      val base = baseRows.toDF("k", "seq", "v").dropDuplicates("k")
      val upd = updRows.toDF("k", "seq", "v").dropDuplicates("k")
      val once = Incremental.upsert(base, upd, Seq("k"))
      val twice = Incremental.upsert(once, upd, Seq("k"))
      val a = once.orderBy("k", "seq", "v").collect().toSeq
      val b = twice.orderBy("k", "seq", "v").collect().toSeq
      assert(a == b, "upsert must be idempotent")
      val keys = once.select("k").as[Long].collect().toSet
      assert(keys == (baseRows.map(_._1) ++ updRows.map(_._1)).toSet)
    }
  }

  test("asOf equals the brute-force latest-≤-ts lookup on random feeds") {
    val feedGen: Gen[List[(Long, Long, Long)]] =
      Gen.listOfN(30, for {
        k <- Gen.choose(0L, 4L)
        ts <- Gen.choose(0L, 50L)
        id <- Gen.choose(0L, 1000000L)
      } yield (k, ts, id))
    samples(feedGen.flatMap(l => feedGen.map(r => (l, r))), 6).foreach {
      case (leftRows0, rightRows0) =>
        // unique ids make the expected winner well-defined
        val leftRows = leftRows0.zipWithIndex.map { case ((k, ts, _), i) => (k, ts, i.toLong) }
        val rightRows = rightRows0.zipWithIndex.map { case ((k, ts, _), i) => (k, ts, i.toLong + 10000) }
        if (leftRows.nonEmpty && rightRows.nonEmpty) {
          val left = leftRows.toDF("k", "ts", "lid")
          val right = rightRows.toDF("k", "ts", "rid")
          val got = AsOfJoin.asOf(left, col("ts"), col("lid"),
              right, col("ts"), col("rid"), "k")
            .select("lid", "asof_rid")
            .collect().map(r => r.getLong(0) -> Option(r.get(1)).map(_.asInstanceOf[Long])).toMap
          leftRows.foreach { case (k, ts, lid) =>
            val expected = rightRows.filter(r => r._1 == k && r._2 <= ts)
              .sortBy(r => (r._2, r._3)).lastOption.map(_._3)
            assert(got(lid) == expected,
              s"key $k ts $ts: got ${got(lid)}, brute force says $expected")
          }
        }
    }
  }

  test("sessionize: within-session gaps ≤ gap, cross-session gaps > gap") {
    val evGen: Gen[List[(Long, Long, Long)]] =
      Gen.listOfN(40, for {
        k <- Gen.choose(0L, 3L)
        ts <- Gen.choose(0L, 500L)
        id <- Gen.choose(0L, 1000000L)
      } yield (k, ts, id))
    samples(evGen, 6).foreach { rows0 =>
      val rows = rows0.zipWithIndex.map { case ((k, ts, _), i) => (k, ts, i.toLong) }
      if (rows.nonEmpty) {
        val out = Sessionize.withSessionId(rows.toDF("k", "ts", "id"),
            "k", col("ts"), col("id"), gap = 25L)
          .select("k", "ts", "id", "session_id")
          .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
        out.groupBy(_._1).foreach { case (_, es) =>
          val ordered = es.sortBy(e => (e._2, e._3))
          ordered.sliding(2).foreach {
            case Array(a, b) =>
              val sameSession = a._4 == b._4
              if (b._2 - a._2 <= 25L) assert(sameSession, s"gap ${b._2 - a._2} split a session")
              else assert(!sameSession && b._4 == a._4 + 1, "large gap must advance the ordinal by 1")
            case _ => ()
          }
          assert(ordered.head._4 == 1L, "sessions start at ordinal 1")
        }
      }
    }
  }

  test("extract128 reassembles the fingerprint for any chunking") {
    // property: concatenating every chunk of any (budget, comboSize)
    // chunking reproduces the 128-bit value exactly — i.e. the chunk
    // extractor (incl. the half-boundary straddle and the w=64 mask
    // edge) loses no bits and overlaps none.
    import graft.operators.SimHash
    val fpGen = for {
      hi <- Gen.choose(Long.MinValue, Long.MaxValue)
      lo <- Gen.choose(Long.MinValue, Long.MaxValue)
    } yield (hi, lo)
    val pairs = samples(fpGen, 12)
    val df = pairs.toDF("fp_hi", "fp_lo")
    for (nChunks <- Seq(2, 4, 9, 10, 14)) {
      val spans = SimHash.chunkSpans(nChunks, SimHash.FpBits)
      assert(spans.map(_._2).sum == 128 && spans.head._1 == 0)
      assert(spans.sliding(2).forall {
        case Seq((o1, w1), (o2, _)) => o2 == o1 + w1
        case _ => true
      })
      // rebuild (hi, lo) from the extracted chunk values row-locally
      val rebuilt = spans.foldLeft((lit(0L), lit(0L))) {
        case ((accHi, accLo), (off, w)) =>
          val v = SimHash.extract128(col("fp_hi"), col("fp_lo"), off, w)
          val addLo =
            if (off >= 64) lit(0L)
            else shiftleft(v, off)
          val addHi =
            if (off + w <= 64) lit(0L)
            else if (off >= 64) shiftleft(v, off - 64)
            else shiftrightunsigned(v, 64 - off)
          (accHi.bitwiseOR(addHi), accLo.bitwiseOR(addLo))
      }
      val bad = df.select(col("fp_hi"), col("fp_lo"),
          rebuilt._1.as("rhi"), rebuilt._2.as("rlo"))
        .where(col("fp_hi") =!= col("rhi") || col("fp_lo") =!= col("rlo"))
        .count()
      assert(bad == 0, s"chunking $nChunks dropped/duplicated bits on $bad rows")
    }
  }

  test("Bpe.applyMerge agrees with an in-memory greedy fold on random symbol arrays") {
    val symsGen: Gen[List[String]] =
      Gen.listOfN(12, Gen.oneOf("a", "b", "c", "ab", "bc"))
    val pairGen: Gen[(String, String)] = for {
      l <- Gen.oneOf("a", "b", "c", "ab")
      r <- Gen.oneOf("a", "b", "c", "bc")
    } yield (l, r)
    def refMerge(syms: List[String], a: String, b: String): List[String] = {
      val out = scala.collection.mutable.ListBuffer.empty[String]
      syms.foreach { s =>
        if (out.nonEmpty && out.last == a && s == b) {
          out.remove(out.length - 1); out += (a + b)
        } else out += s
      }
      out.toList
    }
    val cases = samples(symsGen.flatMap(s => pairGen.map(p => (s, p))), 40)
    val df = cases.zipWithIndex
      .map { case ((s, _), i) => (i, s) }.toDF("i", "syms")
    // one pass per distinct pair, applied only to its own rows
    cases.map(_._2).distinct.foreach { case (a, b) =>
      val mine = cases.filter(_._2 == (a, b))
      val ids = cases.zipWithIndex.collect { case ((_, p), i) if p == (a, b) => i }
      val got = df.where(col("i").isin(ids: _*))
        .select(col("i"), graft.operators.Bpe.applyMerge(col("syms"), a, b).as("m"))
        .collect().map(r => r.getInt(0) -> r.getSeq[String](1).toList).toMap
      ids.zip(mine).foreach { case (i, (s, _)) =>
        assert(got(i) == refMerge(s, a, b),
          s"merge ($a,$b) on $s: got ${got(i)}, want ${refMerge(s, a, b)}")
      }
    }
  }

  test("q75's oracle argument: double-separator string replace == the greedy merge fold") {
    // the q75 DuckDB oracle replays BPE merging via left-to-right
    // non-overlapping replace over double-separator-joined symbols;
    // Java String.replace has the same scan semantics as DuckDB's
    // replace, so proving fold == replace here proves the oracle
    // replays the operator for ANY input, not just the corpus
    val SEP = ""
    def replayViaReplace(syms: List[String], merges: List[(String, String)]): List[String] = {
      var s = SEP + SEP + syms.mkString(SEP + SEP) + SEP + SEP
      merges.foreach { case (a, b) =>
        s = s.replace(SEP + a + SEP + SEP + b + SEP, SEP + a + b + SEP)
      }
      s.split(SEP + SEP).toList.filter(_.nonEmpty)
    }
    def refFold(syms: List[String], a: String, b: String): List[String] = {
      val out = scala.collection.mutable.ListBuffer.empty[String]
      syms.foreach { x =>
        if (out.nonEmpty && out.last == a && x == b) {
          out.remove(out.length - 1); out += (a + b)
        } else out += x
      }
      out.toList
    }
    val symsGen: Gen[List[String]] =
      Gen.listOfN(14, Gen.oneOf("a", "b", "ab", "ba", "aa"))
    val mergesGen: Gen[List[(String, String)]] = Gen.listOfN(3, for {
      l <- Gen.oneOf("a", "b", "ab", "aa")
      r <- Gen.oneOf("a", "b", "ba", "ab")
    } yield (l, r))
    samples(symsGen.flatMap(s => mergesGen.map(m => (s, m))), 120)
      .foreach { case (syms, merges) =>
        if (syms.nonEmpty) {
          val folded = merges.foldLeft(syms) { case (s, (a, b)) => refFold(s, a, b) }
          val replaced = replayViaReplace(syms, merges)
          assert(folded == replaced,
            s"fold/replace diverged on $syms with $merges: $folded vs $replaced")
        }
      }
  }

  test("pngStreamEnd: any truncation/corruption demuxes a prefix, never crashes or over-reads") {
    val payload = {
      val bos = new java.io.ByteArrayOutputStream()
      (0 until 4).foreach { f =>
        javax.imageio.ImageIO.write(
          graft.operators.Multimodal.syntheticVideoFrame(3L, f), "png", bos)
      }
      bos.toByteArray
    }
    // frame boundaries via the real chunk walk
    def boundaries(b: Array[Byte]): List[Int] = {
      var off = 0; var acc = List.empty[Int]
      var end = graft.operators.Multimodal.pngStreamEnd(b, off)
      while (end > 0) {
        acc = end :: acc; off = end
        end = if (off >= b.length) -1
          else graft.operators.Multimodal.pngStreamEnd(b, off)
      }
      acc.reverse
    }
    val full = boundaries(payload)
    assert(full.length == 4 && full.last == payload.length)
    // every truncation point yields exactly the frames wholly before it
    samples(Gen.choose(0, payload.length - 1), 60).foreach { cut =>
      val t = java.util.Arrays.copyOfRange(payload, 0, cut)
      val got = boundaries(t)
      val want = full.takeWhile(_ <= cut)
      assert(got == want, s"cut=$cut: got $got want $want")
    }
    // corrupting one byte inside frame 2's body keeps frames 0-1
    val mid = (full(1) + full(2)) / 2
    val corrupted = payload.clone()
    corrupted(mid) = (corrupted(mid) ^ 0xff).toByte
    // chunk-walk structure survives a BODY flip (lengths/types intact),
    // so demux still finds the boundaries; a flip in a LENGTH field
    // truncates from that frame on — both are prefix semantics
    val gotC = boundaries(corrupted)
    assert(gotC.startsWith(full.take(2)),
      s"body corruption must keep intact leading frames: $gotC vs $full")
  }

  /** Random "texts" stressing the tokenizer edges the kernels share:
    * multi-whitespace runs, mixed case, unicode, punct, repetition. */
  private val textGen: Gen[String] = Gen.listOfN(60, Gen.frequency(
    6 -> Gen.oneOf("the", "cat", "sat", "aa", "a", "Straße", "émü",
      "x1.2", "!?", "😀", "word"),
    2 -> Gen.oneOf(" ", "  ", "\t", "\n"),
    1 -> Gen.alphaNumStr.map(_.take(6)))).map(_.mkString(" "))

  test("r9 kernels ≡ Column forms on random unicode text (drop spans, subwords, rep scores)") {
    import graft.functions.TextFunctions
    import graft.operators.{Bpe, TextDedup}
    val texts = samples(Gen.listOfN(25, textGen), 4).flatten
    val docs = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("doc_id", "text")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2),
        r.getLong(3))).toSet
    // chunk dedup: native rebuild vs HOF rebuild, row-for-row
    assert(rows(TextDedup.chunkDedup(docs, "doc_id", "text", 3)) ==
      rows(HofReference.chunkDedup(docs, "doc_id", "text", 3)))
    // substring dedup likewise (small span → dense overlapping ranges)
    assert(rows(TextDedup.substringDedup(docs, "doc_id", "text", 4)) ==
      rows(HofReference.substringDedup(docs, "doc_id", "text", 4)))
    // subword count under a merge table with chaining + marker merges
    val merges = Seq(Bpe.Merge(0, "a", "a", "aa", 0), Bpe.Merge(1, "t", "h", "th", 0),
      Bpe.Merge(2, "e", "</w>", "e</w>", 0), Bpe.Merge(3, "th", "e</w>", "the</w>", 0))
    val nat = Bpe.subwordCount(docs, "text", merges)
      .select("doc_id", "n_subwords").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val hof = HofReference.subwordCountHof(docs, "text", merges)
      .select("doc_id", "n_subwords").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(nat == hof)
    // repetition scores
    val diff = docs.select(
        call_function("text_rep_scores", col("text")).as("n"),
        TextFunctions.dupTokenFraction(col("text")).as("d"),
        TextFunctions.topNgramFraction(col("text"), 2).as("t2"),
        TextFunctions.topNgramFraction(col("text"), 3).as("t3"))
      .where(col("n.dup_frac") =!= col("d") || col("n.top2") =!= col("t2") ||
        col("n.top3") =!= col("t3")).count()
    assert(diff == 0)
  }

  test("regex-free pii_scan ≡ java.util.regex reference on adversarial strings") {
    import graft.functions.TextFunctions
    val emailP = java.util.regex.Pattern.compile(TextFunctions.EmailRe)
    val ipP = java.util.regex.Pattern.compile(TextFunctions.Ipv4Re)
    def refPii(s: String): (Long, Long, String) = {
      val sb = new java.lang.StringBuffer
      val em = emailP.matcher(s); var ne = 0L
      while (em.find()) { ne += 1; em.appendReplacement(sb, "<EMAIL>") }
      em.appendTail(sb)
      var ni = 0L
      val ic = ipP.matcher(s); while (ic.find()) ni += 1
      val sb2 = new java.lang.StringBuffer
      val ip = ipP.matcher(sb.toString)
      while (ip.find()) ip.appendReplacement(sb2, "<IP>")
      ip.appendTail(sb2)
      val dig = java.security.MessageDigest.getInstance("MD5")
        .digest(sb2.toString.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      (ne, ni, dig.map(b => f"$b%02x").mkString)
    }
    // Fragments biased toward every branch of the two grammars: octet
    // runs of length 1–4, word/non-word \b neighbors incl. unicode
    // letters and digits, '@'/dot clusters, TLD-length edges.
    val frags = Seq("1", "22", "333", "4444", ".", "..", "@", "a", "Bc",
      "_", "%", "+", "-", " ", "ü", "٣", "例", "😀", "­", "1.2.3.4",
      "999.999.999.999", "a@b.cc", "x@y.z", ".co", "co.", "@x.", "e-f",
      "10.0", "0..0", "@1.2.3.4", "a1", "1a")
    val strGen = Gen.choose(0, 14).flatMap(k =>
      Gen.listOfN(k, Gen.oneOf(frags)).map(_.mkString))
    samples(strGen, 4000).foreach { s =>
      val row = graft.plans.TextKernels.piiScan(
        org.apache.spark.unsafe.types.UTF8String.fromString(s))
      val got = (row.getLong(0), row.getLong(1), row.getUTF8String(2).toString)
      assert(got == refPii(s), s"diverges on <$s>")
    }
    // ILL-FORMED UTF-8: the Column chain round-trips through String
    // (U+FFFD replacement) before scanning and hashing — the kernel
    // must match that, not md5 the raw bytes (valid-string fuzz can
    // never catch this branch)
    val illFormed = Seq[Array[Byte]](
      Array(0x80.toByte), // lone continuation
      Array('a', 0xc3.toByte), // truncated 2-byte tail
      Array(0xc0.toByte, 0xaf.toByte), // overlong '/'
      Array(0xed.toByte, 0xa0.toByte, 0x80.toByte), // encoded surrogate
      Array(0xf5.toByte, 0x80.toByte, 0x80.toByte, 0x80.toByte), // > U+10FFFF
      "a@b.cc ".getBytes("UTF-8") ++ Array(0xff.toByte) ++
        " 1.2.3.4".getBytes("UTF-8"))
    illFormed.foreach { bs =>
      assert(!graft.plans.TextKernels.isWellFormedUtf8(bs))
      val row = graft.plans.TextKernels.piiScan(
        org.apache.spark.unsafe.types.UTF8String.fromBytes(bs))
      val got = (row.getLong(0), row.getLong(1), row.getUTF8String(2).toString)
      val exp = refPii(new String(bs, java.nio.charset.StandardCharsets.UTF_8))
      assert(got == exp, s"ill-formed bytes ${bs.mkString(",")} diverge")
    }
    // and the validator accepts exactly the well-formed shapes nearby
    Seq("", "a", "ü", "例", "😀", "�").foreach(s =>
      assert(graft.plans.TextKernels.isWellFormedUtf8(s.getBytes("UTF-8"))))
  }

  test("json_long ≡ from_json reference on random JSON-ish fragment strings") {
    import org.apache.spark.sql.catalyst.expressions.{BoundReference, JsonToStructs}
    import org.apache.spark.sql.catalyst.{InternalRow => CIRow}
    import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
    import org.apache.spark.unsafe.types.UTF8String
    val ref = JsonToStructs(StructType(Seq(StructField("k", LongType))),
      Map.empty[String, String], BoundReference(0, StringType, true), Some("UTC"))
    def refEval(s: String): Option[Long] = {
      ref.eval(CIRow(UTF8String.fromString(s))) match {
        case null => None
        case r: org.apache.spark.sql.catalyst.InternalRow =>
          if (r.isNullAt(0)) None else Some(r.getLong(0))
      }
    }
    val frags = Seq("{", "}", "\"k\"", "\"j\"", ":", ",", " ", "\t", "1",
      "42", "007", "-", "null", "true", "false", "[", "]", "\"x\"",
      "\"a\\\"b\"", "9223372036854775807", "12345678901234567890", "1e3",
      "7.5", "\"ü\"", "{\"k\":3}", "{\"j\":1,\"k\":2}", "\n")
    val strGen = Gen.choose(0, 9).flatMap(k =>
      Gen.listOfN(k, Gen.oneOf(frags)).map(_.mkString))
    samples(strGen, 4000).foreach { s =>
      val got = Option(
        graft.plans.TextKernels.jsonLong(UTF8String.fromString(s),
          UTF8String.fromString("k"))).map(_.longValue())
      assert(got == refEval(s), s"diverges on <$s>")
    }
  }

  test("est_bpe run-count equals java-regex regexp_count on adversarial strings") {
    // the kernel's single-walk claim (TextScores.computeRaw): count of
    // maximal same-class runs == regexp_count(text, BpeishPattern).
    // Generator mixes ASCII alpha/digit runs, punctuation, the literal
    // space vs other whitespace (only ' ' separates in that pattern),
    // multi-byte letters and surrogate-pair emoji.
    val pieces = Gen.oneOf("a", "Bc", "7", "42", " ", "  ", "\t", "\n",
      ".", "?!", ",,,", "ß", "à", "😀", "界", "a1", " x ", "\r\f")
    val strGen = Gen.listOf(pieces).map(_.mkString)
    val p = java.util.regex.Pattern.compile(
      graft.functions.TextFunctions.BpeishPattern)
    def rx(s: String): Long = {
      val m = p.matcher(s); var c = 0L; while (m.find()) c += 1; c
    }
    val strs = samples(strGen, 400) ++ Seq("", " ", "\t", "😀😀a😀",
      " a", "a ", "  .7x  ")
    strs.foreach { s =>
      val got = graft.plans.TextScores.computeRaw(
        org.apache.spark.unsafe.types.UTF8String.fromString(s))._7
      assert(got == rx(s), s"est_bpe mismatch on ${s.map(_.toInt)}: " +
        s"kernel $got vs regex ${rx(s)}")
    }
  }

  test("deleteInsert preserves non-delta rows exactly") {
    samples(rowsGen.flatMap(a => rowsGen.map(b => (a, b))), 6).foreach { case (baseRows, deltaRows) =>
      val base = baseRows.toDF("k", "seq", "v")
      val delta = deltaRows.toDF("k", "seq", "v")
      val out = Incremental.deleteInsert(base, delta, Seq("k"))
      val deltaKeys = deltaRows.map(_._1).toSet
      val expectKept = baseRows.filterNot(r => deltaKeys(r._1))
      val kept = out.as[(Long, Long, String)].collect()
        .filterNot(r => deltaKeys(r._1)).toList
      assert(kept.sorted == expectKept.sorted)
      assert(out.count() == expectKept.size + deltaRows.size)
    }
  }
}
