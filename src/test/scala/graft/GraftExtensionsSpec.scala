package graft

import org.apache.spark.sql.ExpressionColumn
import org.apache.spark.sql.ExpressionColumn.expression
import org.apache.spark.sql.functions._
import graft.functions.TextFunctions
import graft.operators.MinHashLSH
import graft.plans.MinHashSignature

/** The native codegen'd expressions must be bit-equal to the portable
  * higher-order-function forms they accelerate (the Column forms the
  * library still uses, or their [[HofReference]] copies). */
class GraftExtensionsSpec extends SparkTestBase {

  test("extensions are registered in the session") {
    assert(spark.catalog.functionExists("minhash_sig"))
    assert(spark.catalog.functionExists("simhash64"))
    // and usable from plain SQL
    val r = spark.sql("SELECT simhash64(array(1L, 2L, 3L)) AS fp").head().getLong(0)
    assert(r != 0L)
    // a call with the wrong number of arguments fails analysis, naming
    // the function and its arity: a Kernel1, Kernel2 and Kernel3 row and
    // a hand-written registration, each with one too many and one too few
    Seq("token_count('a b', 'extra')" -> ("token_count", 1, 2),
      "token_count()" -> ("token_count", 1, 0),
      "classifier_milli('a', 8, 3)" -> ("classifier_milli", 2, 3),
      "classifier_milli('a')" -> ("classifier_milli", 2, 1),
      "text_gate('a', 0.5D, 0.5D, 3)" -> ("text_gate", 3, 4),
      "text_gate('a', 0.5D)" -> ("text_gate", 3, 2),
      "vec_dot(array(1.0D), array(1.0D), array(1.0D))" -> ("vec_dot", 2, 3),
      "vec_dot(array(1.0D))" -> ("vec_dot", 2, 1)).foreach {
      case (call, (name, arity, actual)) =>
        val e = intercept[org.apache.spark.sql.AnalysisException](
          spark.sql(s"SELECT $call").collect())
        assert(e.getCondition == "WRONG_NUM_ARGS.WITHOUT_SUGGESTION", call)
        assert(e.getMessageParameters.get("functionName") == s"`$name`", call)
        assert(e.getMessageParameters.get("expectedNum") == arity.toString, call)
        assert(e.getMessageParameters.get("actualNum") == actual.toString, call)
    }
  }

  test("native minhash_sig ≡ HOF signature on the corpus") {
    val docs = Tables.load(spark, sf0001, "documents")
    val sh = MinHashLSH.shingleHashes(col("text"))
    // the registered SQL default, and non-default parameters built
    // directly as the library builds them
    for ((numPerm, seed, native) <- Seq(
        (64, 42L, call_function("minhash_sig", sh)),
        (128, 7L, ExpressionColumn(MinHashSignature(expression(sh), 128, 7L))))) {
      val perms = MinHashLSH.permutations(numPerm, seed)
      val both = docs.select(
        native.as("native"),
        HofReference.signature(sh, perms).as("hof"))
      val diff = both.where(col("native") =!= col("hof")).count()
      assert(diff == 0,
        s"$diff rows diverge between native and HOF signatures ($numPerm, $seed)")
    }
  }

  test("native simhash64 ≡ HOF simhash on the corpus") {
    val docs = Tables.load(spark, sf0001, "documents")
    val hashes = transform(TextFunctions.tokens(col("text")), t => xxhash64(t))
    val both = docs.select(
      call_function("simhash64", hashes).as("native"),
      HofReference.simhash64Hof(hashes).as("hof"))
    val diff = both.where(col("native") =!= col("hof")).count()
    assert(diff == 0, s"$diff rows diverge between native and HOF simhash")
  }

  test("native simhash128 ≡ two simhash64 calls + xxhash64 hi stream") {
    import graft.operators.TextDedup
    val docs = Tables.load(spark, sf0001, "documents")
    val lo = TextDedup.shingleHashes64(col("text"), 3)
    val both = docs
      .select(col("doc_id"), lo.as("__lo"),
        call_function("simhash128", lo).as("fused"))
      .select(col("doc_id"), col("fused"),
        call_function("simhash64", transform(col("__lo"), h => xxhash64(h))).as("hi2"),
        call_function("simhash64", col("__lo")).as("lo2"))
    val diff = both.where(
      element_at(col("fused"), 1) =!= col("hi2") ||
        element_at(col("fused"), 2) =!= col("lo2")).count()
    assert(diff == 0, s"$diff rows diverge between fused and two-call simhash128")
    // and the HOF fallback agrees with the native per-half form
    val hofDiff = docs.select(
        call_function("simhash64", lo).as("n"),
        HofReference.simhash64Hof(lo).as("h"))
      .where(col("n") =!= col("h")).count()
    assert(hofDiff == 0)
  }

  test("native simhash128w ≡ weighted HOF folds under varied weights") {
    import graft.operators.TextDedup
    val docs = Tables.load(spark, sf0001, "documents")
    val lo = TextDedup.shingleHashes64(col("text"), 3)
    val both = docs
      .select(col("doc_id"), lo.as("__lo"))
      .where(size(col("__lo")) > 0)
      // deterministic non-uniform weights in [1, 8], derived per hash
      .withColumn("__w", transform(col("__lo"),
        h => (pmod(h, lit(8)) + 1).cast("long")))
      .select(col("doc_id"),
        call_function("simhash128w", col("__lo"), col("__w")).as("fused"),
        graft.operators.SimHash.simhash64WeightedHof(
          transform(col("__lo"), h => xxhash64(h)), col("__w")).as("hi2"),
        graft.operators.SimHash.simhash64WeightedHof(
          col("__lo"), col("__w")).as("lo2"))
    val diff = both.where(
      element_at(col("fused"), 1) =!= col("hi2") ||
        element_at(col("fused"), 2) =!= col("lo2")).count()
    assert(diff == 0, s"$diff rows diverge between native and HOF weighted simhash")
    // a ragged weights array must surface as null, never truncate
    val ragged = spark.sql(
      "SELECT simhash128w(array(1L, 2L), array(1L)) AS fp").head()
    assert(ragged.isNullAt(0), "length mismatch should yield null")
  }

  test("native vec_dot / vec_l2sq ≡ HOF folds, bit-equal on the corpus") {
    val emb = Tables.load(spark, sf0001, "embeddings")
    val hofDot = aggregate(
      zip_with(col("a"), col("b"), (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0), (acc, v) => acc + v)
    val hofL2 = aggregate(
      zip_with(col("a"), col("b"), (x, y) => (x.cast("double") - y.cast("double")) * (x.cast("double") - y.cast("double"))),
      lit(0.0), (acc, v) => acc + v)
    // pair each vector with its successor so both args are real data
    val pairs = emb.select(col("vec_id"), col("embedding").as("a"))
      .withColumn("b", lead(col("a"), 1).over(
        org.apache.spark.sql.expressions.Window.orderBy("vec_id")))
      .where(col("b").isNotNull)
    val diff = pairs.select(
        call_function("vec_dot", col("a"), col("b")).as("nd"), hofDot.as("hd"),
        call_function("vec_l2sq", col("a"), col("b")).as("nl"), hofL2.as("hl"))
      .where(col("nd") =!= col("hd") || col("nl") =!= col("hl")).count()
    assert(diff == 0, s"$diff rows diverge between native and HOF vector folds")
    // null semantics mirror zip_with padding: length mismatch → null
    val r = spark.sql(
      "SELECT vec_dot(array(1.0, 2.0), array(1.0, 2.0, 3.0)) AS d").head()
    assert(r.isNullAt(0), "length-mismatched vec_dot must be null")
  }

  test("native pq_encode / pq_adc ≡ portable forms, bit-equal") {
    import graft.operators.{Ann, Pq}
    val e = Tables.load(spark, sf0001, "embeddings")
    val cb = Pq.train(e, "vec_id", "embedding", m = 4, ksub = 8, iters = 1)
    // portable twins, inlined (the operator picks native in this session)
    val portableEncode = array((0 until cb.m).map { j =>
      Ann.clusterOf(slice(col("embedding"), j * cb.dsub + 1, cb.dsub), cb.cents(j))
    }: _*)
    val q = e.where(col("vec_id") === 3L)
      .select(transform(col("embedding"), _.cast("double")))
      .head().getSeq[Double](0).toArray
    val table = Pq.adcTable(q, cb)
    val portableAdc = aggregate(
      zip_with(col("codes"), sequence(lit(0), size(col("codes")) - 1),
        (c, j) => element_at(array(table.map(lit).toSeq: _*), j * cb.ksub + c + 1)),
      lit(0.0), (acc, v) => acc + v)
    val diff = e
      .select(col("vec_id"),
        Pq.encode(col("embedding"), cb).as("codes"),
        portableEncode.as("pcodes"))
      .withColumn("nadc", Pq.adcScore(col("codes"), table, cb.ksub))
      .withColumn("padc", portableAdc)
      .where(col("codes") =!= col("pcodes") || col("nadc") =!= col("padc"))
      .count()
    assert(diff === 0, s"$diff rows diverge between native and portable PQ")
    // ragged vector → null codes; out-of-range code → null score
    val r = spark.sql(
      s"""SELECT pq_encode(array(1.0F), array(${cb.flat.mkString(",")}),
         |  ${cb.m}, ${cb.ksub}) AS c""".stripMargin).head()
    assert(r.isNullAt(0), "ragged vector must encode to null")
  }

  test("native path survives codegen (no interpreted fallback errors)") {
    val docs = Tables.load(spark, sf001, "documents")
    // run a real end-to-end LSH pass through the native expression
    val n = MinHashLSH.nearDupPairs(docs, "doc_id", "text", 0.5).count()
    assert(n >= 25, s"expected ≥25 near-dup pairs, got $n")
  }

  test("native window_hashes ≡ per-window string fallback: identical substringDedup result") {
    import org.apache.spark.sql.functions.col
    // hash VALUES differ across paths (mix kernel vs string xxhash64);
    // the OPERATOR result — which only consumes equality classes —
    // must be identical row for row
    val docs = Tables.load(spark, sf0001, "documents")
      .select(col("doc_id"), col("text")).limit(200)
    def run(df: org.apache.spark.sql.DataFrame) =
      df.collect()
        .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
        .toSet
    val nat = run(graft.operators.TextDedup.substringDedup(docs, "doc_id", "text", 10))
    val hof = run(HofReference.substringDedup(docs, "doc_id", "text", 10))
    assert(nat == hof && nat.nonEmpty)
    // and the empty-for-short-docs contract holds natively: a doc
    // below the span yields no windows at all
    val w = spark.sql(
      "SELECT window_hashes(array(1L, 2L, 3L), 10) AS w").head().getSeq[Long](0)
    assert(w.isEmpty)
  }

  test("window-hash store flavor marker: stamped on write, mismatched store fails fast") {
    import org.apache.spark.sql.functions.{col, lit}
    import graft.operators.TextDedup
    val docs = Tables.load(spark, sf0001, "documents")
      .select(col("doc_id"), col("text")).limit(20)
    // the store stamps "native", the only flavor this build computes
    val store = TextDedup.windowHashes(docs, "doc_id", "text", 10)
    assert(store.select("hash_flavor").distinct()
      .collect().map(_.getString(0)).toSet == Set("native"))
    // same-flavor prior: accepted (dedupAgainst runs), legacy store
    // without the column: accepted as-is
    assert(TextDedup.substringDedupAgainst(docs, "doc_id", "text", 10,
      store).count() == 20)
    assert(TextDedup.substringDedupAgainst(docs, "doc_id", "text", 10,
      store.drop("hash_flavor")).count() == 20)
    // other-flavor store: silent no-match would keep every duplicate —
    // must throw instead, naming both flavors
    val foreign = store.withColumn("hash_flavor", lit("string"))
    val e = intercept[IllegalStateException] {
      TextDedup.substringDedupAgainst(docs, "doc_id", "text", 10, foreign)
    }
    assert(e.getMessage.contains("string") && e.getMessage.contains("native"))
    // MIXED on-disk store: legacy files (no marker) + stamped files.
    // A mergeSchema read surfaces legacy rows as NULL flavor — they
    // must be grandfathered (no spurious mismatch), while a real
    // foreign flavor in the same mixed store still throws
    val dir = java.nio.file.Files.createTempDirectory("flavor-mix")
      .toString + "/store"
    store.drop("hash_flavor").write.parquet(dir) // legacy epoch
    store.write.mode("append").parquet(dir) // stamped epoch
    val mixed = spark.read.option("mergeSchema", "true").parquet(dir)
    TextDedup.checkWindowHashFlavor(mixed) // must not throw
    assert(TextDedup.substringDedupAgainst(docs, "doc_id", "text", 10,
      mixed).count() == 20)
    val mixedForeign = mixed.withColumn("hash_flavor",
      coalesce(col("hash_flavor"), lit("string")))
    intercept[IllegalStateException] {
      TextDedup.checkWindowHashFlavor(mixedForeign)
    }
  }

  test("native text_scores / text_gate ≡ HOF gate columns, bit-equal incl. edges") {
    import spark.implicits._
    // corpus + adversarial edges: empty, whitespace-only (the \t quirk:
    // Spark trim removes 0x20 only, so tokens("\t") = ["", ""]),
    // unicode lower/length paths, diacritic lang routes, boilerplate
    // repetition, single-token, punct-heavy, astral code points
    val edges = Seq(
      "", " ", "\t", " \t \n x", "a", "a a a a a a a a a a a",
      "the of and to in is it that was for", "Xin chào thế giới ạ",
      "Grüße aus München straße", "!!!??? ###", "mixed CASE Text Here",
      "word " * 600, ("tok" + ("a b " * 30)) * 2, "ßẞ İstanbul",
      "emoji 😀 pair 😀!", "a  b   cd\fe\rf").toDF("text")
    val docs = Tables.load(spark, sf0001, "documents").select(col("text"))
      .unionByName(edges)
    val both = docs.select(
      call_function("text_scores", col("text")).as("n"),
      graft.functions.TextFunctions.langId(col("text")).as("lang_hof"),
      round(graft.functions.TextFunctions.qualityScore(col("text")), 6).as("q_hof"),
      round(graft.functions.TextFunctions.topNgramFraction(col("text"), 2), 6).as("t2_hof"),
      graft.functions.TextFunctions.tokenCount(col("text")).cast("long").as("nt_hof"),
      call_function("text_gate", col("text"), lit(0.75), lit(0.2)).as("gate"))
    val diff = both.where(
      col("n.lang_pred") =!= col("lang_hof") ||
      round(col("n.quality"), 6) =!= col("q_hof") ||
      round(col("n.t2"), 6) =!= col("t2_hof") ||
      col("n.n_tokens") =!= col("nt_hof") ||
      col("gate") =!= (col("lang_hof") === "en" &&
        col("q_hof") >= 0.75 && col("t2_hof") <= 0.2)).count()
    assert(diff == 0, s"$diff rows diverge between native and HOF gate scores")
    // sanity: both gate outcomes occur on the corpus
    val gates = both.select("gate").distinct().count()
    assert(gates == 2, s"gate is constant ($gates distinct values)")
  }

  /** Corpus + the text_scores edge battery — shared by the r9 kernel
    * equivalence tests. */
  private def kernelDocs = {
    import spark.implicits._
    val edges = Seq(
      "", " ", "\t", " \t \n x", "a", "a a a a a a a a a a a",
      "the of and to in is it that was for", "Xin chào thế giới ạ",
      "Grüße aus München straße", "!!!??? ###", "mixed CASE Text Here",
      "word " * 600, ("tok" + ("a b " * 30)) * 2, "ßẞ İstanbul",
      "emoji 😀 pair 😀!", "a  b   cd\fe\rf").toDF("text")
    Tables.load(spark, sf0001, "documents").select(col("text"))
      .unionByName(edges)
  }

  test("native text_rep_scores ≡ HOF repetition columns, bit-equal incl. edges") {
    import graft.functions.TextFunctions
    val diff = kernelDocs.select(
        call_function("text_rep_scores", col("text")).as("n"),
        round(TextFunctions.dupTokenFraction(col("text")), 6).as("dup_hof"),
        round(TextFunctions.topNgramFraction(col("text"), 2), 6).as("t2_hof"),
        round(TextFunctions.topNgramFraction(col("text"), 3), 6).as("t3_hof"))
      .where(round(col("n.dup_frac"), 6) =!= col("dup_hof") ||
        round(col("n.top2"), 6) =!= col("t2_hof") ||
        round(col("n.top3"), 6) =!= col("t3_hof")).count()
    assert(diff == 0, s"$diff rows diverge between native and HOF repetition scores")
  }

  test("native text_full_stats ≡ HOF stat columns, bit-equal incl. edges") {
    import graft.functions.TextFunctions
    val diff = kernelDocs.select(
        call_function("text_full_stats", col("text")).as("n"),
        TextFunctions.tokenCount(col("text")).cast("long").as("nt_hof"),
        TextFunctions.punctRatio(col("text")).as("punct_hof"),
        TextFunctions.stopwordRatio(col("text")).as("stop_hof"),
        TextFunctions.langId(col("text")).as("lang_hof"),
        TextFunctions.qualityScore(col("text")).as("q_hof"),
        TextFunctions.bpeishTokenCount(col("text")).as("bpe_hof"))
      .where(col("n.n_tokens") =!= col("nt_hof") ||
        col("n.punct_ratio") =!= col("punct_hof") ||
        col("n.stop_ratio") =!= col("stop_hof") ||
        col("n.lang_pred") =!= col("lang_hof") ||
        col("n.quality") =!= col("q_hof") ||
        // the kernel's run-count vs the regexp_count reference
        col("n.est_bpe_tokens") =!= col("bpe_hof")).count()
    assert(diff == 0, s"$diff rows diverge between native and HOF full stats")
  }

  test("native token_count ≡ Column tokenCount, bit-equal incl. edges") {
    import graft.functions.TextFunctions
    val diff = kernelDocs.select(
        call_function("token_count", col("text")).as("tc_n"),
        TextFunctions.tokenCount(col("text")).cast("long").as("tc_hof"))
      .where(col("tc_n") =!= col("tc_hof")).count()
    assert(diff == 0, s"$diff rows diverge between native and HOF token_count")
    // null propagates
    val n = spark.sql("SELECT token_count(CAST(NULL AS STRING)) AS v")
      .collect().head
    assert(n.isNullAt(0))
  }

  test("native fingerprint_md5 / classifier_milli ≡ portable Column folds") {
    import graft.functions.TextFunctions
    val diff = kernelDocs.select(
        call_function("fingerprint_md5", col("text")).as("fp_n"),
        HofReference.fingerprintHof(col("text")).as("fp_hof"),
        call_function("classifier_milli", col("text"), lit(65536)).as("cl_n"),
        HofReference.classifierScoreMilliHof(col("text")).as("cl_hof"))
      .where(col("fp_n") =!= col("fp_hof") ||
        col("cl_n") =!= col("cl_hof")).count()
    assert(diff == 0, s"$diff rows diverge on fingerprint/classifier kernels")
  }

  test("native subword_count ≡ nested-fold HOF form, bit-equal incl. edges") {
    import graft.operators.Bpe
    val merges = Seq(
      Bpe.Merge(0, "e", "</w>", "e</w>", 0L),
      Bpe.Merge(1, "t", "h", "th", 0L),
      Bpe.Merge(2, "th", "e</w>", "the</w>", 0L),
      Bpe.Merge(3, "a", "a", "aa", 0L), // the overlap-chain edge
      Bpe.Merge(4, "i", "n", "in", 0L))
    val docs = kernelDocs
    val nat = Bpe.subwordCount(docs, "text", merges)
      .select("n_subwords").collect().map(_.getLong(0)).toSeq
    val hof = HofReference.subwordCountHof(docs, "text", merges)
      .select("n_subwords").collect().map(_.getLong(0)).toSeq
    assert(nat == hof && nat.exists(_ > 0))
  }

  test("native pii_scan ≡ regexp_count/redact/md5 Column chain, bit-equal incl. edges") {
    import spark.implicits._
    import graft.functions.TextFunctions
    val piiEdges = Seq(
      "plain text no pii", "a@b.co", "x@y.zz 1.2.3.4", "1.2.3.4.5 deep",
      "999.999.999.999", "v1.2.3.4-suffix", "a.b@c-d.e.fg tail",
      "two a@b.cc b@c.dd mails 10.0.0.1 and 10.0.0.2",
      "email-in-ip 1.2.3.4a@b.cc", "trailing dot a@b.cc.", "",
      "unicode ü@example.de 😀 7.7.7.7").toDF("text")
    val docs = Tables.load(spark, sf0001, "documents").select(col("text"))
      .unionByName(piiEdges)
    val diff = docs.select(
        call_function("pii_scan", col("text")).as("n"),
        regexp_count(col("text"), lit(TextFunctions.EmailRe))
          .cast("long").as("ne_hof"),
        regexp_count(col("text"), lit(TextFunctions.Ipv4Re))
          .cast("long").as("ni_hof"),
        md5(TextFunctions.redactPii(col("text"))).as("md5_hof"))
      .where(col("n.n_emails") =!= col("ne_hof") ||
        col("n.n_ips") =!= col("ni_hof") ||
        col("n.redacted_md5") =!= col("md5_hof")).count()
    assert(diff == 0, s"$diff rows diverge between pii_scan and the Column chain")
  }

  test("native json_long ≡ from_json(..).field on clean, dirty and malformed docs") {
    import spark.implicits._
    import org.apache.spark.sql.types.{LongType, StructField, StructType}
    val docs = Seq(
      """{"k": 76}""", """{"k":-3}""", """{"k": 0}""", """{}""", """ { } """,
      """{"k": null}""", """{"j": 5}""", """{"k": 9223372036854775807}""",
      """{"k": 99999999999999999999999}""", """{"k": 1e3}""", """{"k": 7.5}""",
      """{"k": "76"}""", """{"k": true}""", """{"k": false}""",
      """{"k": 01}""", """{"k": -}""", """{"k": [1,2]}""", """{"k": {"x":1}}""",
      """{"j": {"k": 5}}""", """{"j": [9], "k": 4}""", """{"k":1,"k":2}""",
      """{"j": "a\"b", "k": 3}""", """{"k": 5, "j": "tail"}""",
      """{"k": 5} x""", """{"k": 5},""", """[1,2]""", """5""", """null""",
      """not json at all""", """{"k" 5}""", """{"k": }""", """{"k": 5""",
      """{"ü": 1, "k": 2}""", "{\"k\":\t5\n}", """{"j": "line
break", "k": 6}""", "").toDF("doc")
    val schema = StructType(Seq(StructField("k", LongType)))
    val diff = docs.select(
        call_function("json_long", col("doc"), lit("k")).as("n"),
        from_json(col("doc"), schema).getField("k").as("h"))
      .where(col("n") =!= col("h") ||
        (col("n").isNull =!= col("h").isNull)).count()
    assert(diff == 0, s"$diff rows diverge between json_long and from_json")
  }

  test("native json_scan ≡ parseJsonWithQuarantine on the same edge battery") {
    import spark.implicits._
    import org.apache.spark.sql.types.{LongType, StructField, StructType}
    val docs = Seq(
      """{"k": 76}""", """{"k":-3}""", """{}""", """{"k": null}""",
      """{"j": 5}""", """{"k": "76"}""", """{"k": 7.5}""", """{"k": 01}""",
      """{"k": [1]}""", """{"j": {"k": 5}}""", """{"k":1,"k":2}""",
      """{"k": 5} x""", """[1,2]""", """not json""", """<"k": 5}""",
      """{"k": 99999999999999999999999}""", "").toDF("props")
    val viaKernel = docs
      .select(call_function("json_scan", col("props"), lit("k")).as("__p"))
      .select(col("__p.val").as("k"),
        coalesce(col("__p.corrupt"), lit(false)).as("q"))
    val viaFromJson = graft.operators.Normalize.parseJsonWithQuarantine(
        docs, "props", StructType(Seq(StructField("k", LongType))))
      .select(col("parsed.k").as("k"), col("is_quarantined").as("q"))
    val k = viaKernel.collect().map(r => (Option(r.get(0)), r.getBoolean(1))).toSeq
    val f = viaFromJson.collect().map(r => (Option(r.get(0)), r.getBoolean(1))).toSeq
    assert(k == f, s"json_scan diverges:\n  kernel: $k\n  from_json: $f")
  }

  test("native safe_long / safe_double ≡ try_cast on edges and fuzzed numerics") {
    import spark.implicits._
    val edges = Seq(
      "12", "+12", "-12", "0", "007", "999999999999999999",
      "9223372036854775807", "9223372036854775808", "-9223372036854775808",
      "12.7", "12.", ".5", "-.5", "+.", ".", "+", "-", "", " ", " 12",
      "12 ", "\t12\n", "+-3", "1-2", "1e3", "1E-2", "Infinity", "-Infinity",
      "NaN", "nan", "infinity", "0x1.8p1", "1.5f", "1.5d", "Brand#13",
      "STANDARD ANODIZED TIN", "12,345", "١٢", "1 2", "12.500",
      "0.1", "3.141592653589793", "123456789012345.6", "1234567890123456.7",
      "--1", "9".repeat(40))
    val fragGen = {
      import org.scalacheck.Gen
      val frags = Seq("1", "23", "0", ".", "-", "+", " ", "e", "E", "9",
        "f", "x", "Inf", "aN", "\t", "7".repeat(9))
      Gen.choose(0, 6).flatMap(k => Gen.listOfN(k, Gen.oneOf(frags)).map(_.mkString))
    }
    val fuzz = (1 to 3000).flatMap(i =>
      fragGen.apply(org.scalacheck.Gen.Parameters.default,
        org.scalacheck.rng.Seed(i.toLong)))
    val docs = (edges ++ fuzz).toDF("s")
    val diff = docs.select(
        call_function("safe_long", col("s")).as("nl"),
        col("s").try_cast("bigint").as("tl"),
        call_function("safe_double", col("s")).as("nd"),
        col("s").try_cast("double").as("td"))
      .where(col("nl") =!= col("tl") || (col("nl").isNull =!= col("tl").isNull) ||
        col("nd") =!= col("td") || (col("nd").isNull =!= col("td").isNull) ||
        // NaN =!= NaN is null-ish; compare bit patterns too
        (col("nd").isNotNull && col("td").isNotNull &&
          expr("not (nd <=> td)")))
      .collect()
    assert(diff.isEmpty, s"safe casts diverge from try_cast on: ${diff.take(10).mkString(", ")}")
  }

  test("native array_pmod ≡ transform(arr, pmod), BIT-identical incl. negatives") {
    import spark.implicits._
    val arrs = Seq(Seq(-5L, 0L, 5L, Long.MinValue + 1, Long.MaxValue, -2305843009213693951L),
      Seq.empty[Long]).toDF("a")
    val diff = arrs.select(
        call_function("array_pmod", col("a"), lit(2305843009213693951L)).as("n"),
        transform(col("a"), h => pmod(h, lit(2305843009213693951L))).as("h"))
      .where(col("n") =!= col("h")).count()
    assert(diff == 0)
  }

  test("native token_hashes ≡ transform(tokens, xxhash64), BIT-identical incl. edges") {
    // values must be bit-equal: shingle/window/minhash artifacts
    // persisted under either path have to interoperate
    val diff = kernelDocs.select(
        call_function("token_hashes", col("text")).as("n"),
        transform(graft.functions.TextFunctions.tokens(col("text")),
          t => xxhash64(t)).as("h"))
      .where(col("n") =!= col("h")).count()
    assert(diff == 0, s"$diff rows diverge on token hash values")
  }

  test("native chunk_hashes ≡ xxhash64 of chunk strings, BIT-identical incl. edges") {
    import graft.operators.TextDedup
    // unlike the flavor-bound window mix, chunk-hash VALUES must be
    // path-independent (persisted stores written under either path
    // must interoperate) — assert the hashes themselves, per element
    val toksC = graft.functions.TextFunctions.tokens(col("text"))
    val nChunks = greatest(ceil(size(toksC).cast("double") / 10).cast("int"), lit(1))
    val hofHashes = transform(
      transform(sequence(lit(0), nChunks - 1),
        i => concat_ws(" ", slice(toksC, i * 10 + 1, lit(10)))),
      c => xxhash64(c))
    val diff = kernelDocs.select(
        call_function("chunk_hashes", col("text"), lit(10)).as("n"),
        hofHashes.as("h"))
      .where(col("n") =!= col("h")).count()
    assert(diff == 0, s"$diff rows diverge on chunk hash values")
  }

  test("native gram_buckets ≡ HOF gram buckets, element-for-element incl. edges") {
    import graft.operators.ImportanceModel
    val diff = kernelDocs.select(
        call_function("gram_buckets", col("text"), lit(65536)).as("n"),
        HofReference.gramBucketsHof(col("text")).as("h"))
      .where(col("n") =!= col("h")).count()
    assert(diff == 0, s"$diff rows diverge on gram buckets")
  }

  test("native classifier_weighted ≡ broadcast-join scoring, bit-equal") {
    import graft.operators.ImportanceModel
    val docs = Tables.load(spark, sf0001, "documents")
      .select(col("doc_id"), col("text"))
    val weights = ImportanceModel.train(docs, "text",
      isTarget = col("doc_id") % 2 === 0)
    def rows(df: org.apache.spark.sql.DataFrame) = df
      .select(col("doc_id"), col("score_milli"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val nat = rows(ImportanceModel.score(docs, "doc_id", "text", weights))
    val hof = rows(HofReference.scoreViaJoin(docs, "doc_id", "text", weights))
    assert(nat == hof && nat.exists(_._2 != 0L))
  }

  test("native drop_token_spans rebuild ≡ HOF rebuild: identical chunkDedup result") {
    import graft.operators.TextDedup
    // the q67 corpus shape: shared boilerplate prefix on every 4th doc
    val docs = Tables.load(spark, sf0001, "documents")
      .select(col("doc_id"),
        when(col("doc_id") % 4 === 0,
          concat(lit("shared banner tokens one two three four five six seven "),
            col("text"))).otherwise(col("text")).as("text"))
      .limit(300)
    def run(df: org.apache.spark.sql.DataFrame) =
      df.collect()
        .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
        .toSet
    val nat = run(TextDedup.chunkDedup(docs, "doc_id", "text", 10))
    val hof = run(HofReference.chunkDedup(docs, "doc_id", "text", 10))
    assert(nat == hof && nat.nonEmpty)
    assert(nat.exists(r => r._3 < r._4), "planted boilerplate must dedup")
  }

  test("a session without graft's SQL functions computes the same rows") {
    import org.apache.spark.sql.{DataFrame, SparkSession}
    import org.apache.spark.sql.catalyst.FunctionIdentifier
    import graft.operators.{BloomPrune, SimHash, TextDedup}
    import graft.plans.GraftExtensions
    val bare = spark.newSession()
    val registry = bare.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sessionState.functionRegistry
    GraftExtensions.functions.foreach { case (name, _, _) =>
      registry.dropFunction(FunctionIdentifier(name))
    }
    assert(!bare.catalog.functionExists("minhash_sig"))
    def rows(df: DataFrame): Set[String] = df.collect().map(_.toString).toSet
    def outputs(s: SparkSession): Seq[Set[String]] = {
      SparkSession.setActiveSession(s)
      try {
        val docs = Tables.load(s, sf0001, "documents").select("doc_id", "text")
        val customer = Tables.load(s, sf0001, "customer")
          .select("c_custkey", "c_mktsegment", "c_acctbal")
        val delta = customer.where(col("c_custkey") % 10 === 0)
          .withColumn("c_mktsegment", lit("REFRESH"))
        val store = TextDedup.windowHashes(docs, "doc_id", "text", 10)
        assert(rows(store.select("hash_flavor").distinct()) == Set("[native]"))
        Seq(
          rows(MinHashLSH.nearDupPairs(docs, "doc_id", "text", 0.5)),
          rows(SimHash.fingerprints128(docs, "doc_id", "text")),
          rows(TextDedup.substringDedup(docs, "doc_id", "text", 10)),
          // past the broadcast threshold: the bloom-split regime
          rows(BloomPrune.prunedDeleteInsert(customer, delta, Seq("c_custkey"),
            expectedItems = 1000000L)),
          rows(docs.select(col("doc_id"),
            TextDedup.shingleHashes64(col("text"), 3))),
          rows(store))
      } finally {
        graft.operators.CacheRegistry.releaseAll()
        SparkSession.setActiveSession(spark)
      }
    }
    val viaBare = outputs(bare)
    val viaDefault = outputs(spark)
    assert(viaBare.forall(_.nonEmpty))
    viaBare.zip(viaDefault).zipWithIndex.foreach { case ((b, d), i) =>
      assert(b == d, s"output $i differs without the registry")
    }
  }

  test("hash, PQ and vector kernels: interpreted eval ≡ generated code, row for row") {
    import org.apache.spark.sql.{DataFrame, Row, SparkSession}
    import org.apache.spark.sql.catalyst.expressions.{Expression, Literal}
    import org.apache.spark.sql.execution.WholeStageCodegenExec
    import org.apache.spark.sql.types._
    import graft.operators.Pq
    import graft.plans._
    // inputs land in parquet, so neither run can constant-fold or
    // local-relation-fold a kernel: every value below is computed per row
    val dir = java.nio.file.Files.createTempDirectory("kernel-paths").toString
    def edges(schema: StructType, rows: Seq[Any]*): DataFrame =
      spark.createDataFrame(
        java.util.Arrays.asList(rows.map(r => Row.fromSeq(r)): _*), schema)
    val longs = ArrayType(LongType)
    val hashSchema = StructType(Seq(StructField("id", LongType),
      StructField("th", longs), StructField("w", longs)))
    val th = transform(TextFunctions.tokens(col("text")), t => xxhash64(t))
    val w = transform(col("th"), h => (pmod(h, lit(8)) + 1).cast("long"))
    Tables.load(spark, sf001, "documents")
      .select(col("doc_id").as("id"), th.as("th"))
      // every 7th document carries one weight too many (ragged → null)
      .withColumn("w", when(col("id") % 7 === 0, concat(w, array(lit(1L))))
        .otherwise(w))
      .unionByName(edges(hashSchema,
        Seq(-1L, null, null),
        Seq(-2L, Seq.empty[Long], Seq.empty[Long]),
        Seq(-3L, Seq(1L, 2L), Seq(1L)),
        Seq(-4L, Seq(1L, 2L, 3L), Seq(1L, 1L, 1L)),
        Seq(-5L, Seq(Long.MinValue, -1L, 0L, Long.MaxValue), Seq(-3L, 0L, 5L, 1L))))
      .write.parquet(s"$dir/hash")

    val emb = Tables.load(spark, sf0001, "embeddings")
    val cb = Pq.train(emb, "vec_id", "embedding", m = 4, ksub = 8, iters = 1)
    val q = emb.where(col("vec_id") === 3L)
      .select(transform(col("embedding"), _.cast("double")))
      .head().getSeq[Double](0).toArray
    val table = Pq.adcTable(q, cb)
    val floats = ArrayType(FloatType)
    val vecSchema = StructType(Seq(StructField("id", LongType),
      StructField("a", floats), StructField("b", floats),
      StructField("codes", ArrayType(IntegerType))))
    val holed = Seq.tabulate[Any](cb.dim)(i => if (i == 2) null else 0.5f)
    emb.select(col("vec_id").as("id"), col("embedding").as("a"))
      .withColumn("b", lead(col("a"), 1).over(
        org.apache.spark.sql.expressions.Window.orderBy("id")))
      .withColumn("codes", Pq.encode(col("a"), cb))
      .unionByName(edges(vecSchema,
        Seq(-1L, null, Seq(1f), null),
        Seq(-2L, Seq(1f, 2f), Seq(1f, 2f, 3f), Seq(0, 0, 0)),
        Seq(-3L, Seq(1f, null, 3f), Seq(1f, 2f, 3f), Seq(0, null, 0, 0)),
        Seq(-4L, Seq(1f), Seq(1f), Seq(99, 0, 0, 0)),
        Seq(-5L, Seq.empty[Float], Seq.empty[Float], Seq(-1, 0, 0, 0)),
        Seq(-6L, holed, holed, Seq(7, 0, 1, 2))))
      .write.parquet(s"$dir/vec")

    def k(e: Expression): org.apache.spark.sql.Column = ExpressionColumn(e)
    def x(c: String): Expression = expression(col(c))
    def d(c: String): Expression = expression(col(c).cast("array<double>"))
    def run(s: SparkSession): Seq[(Boolean, Seq[Row])] = Seq(
      s.read.parquet(s"$dir/hash").select(col("id"),
        k(MinHashSignature(x("th"), 64, 42L)),
        k(MinHashSignature(x("th"), 128, 7L)),
        k(SimHash64(x("th"))),
        k(SimHash128(x("th"))),
        k(SimHash128Weighted(x("th"), x("w"))),
        k(ShingleHashes(x("th"), Literal(3))),
        k(ShingleHashes(x("th"), Literal(1))),
        k(WindowHashes(x("th"), Literal(10))),
        k(WindowHashes(x("th"), Literal(1)))),
      s.read.parquet(s"$dir/vec").select(col("id"),
        k(VecDot(x("a"), x("b"))),
        k(VecL2Sq(x("a"), x("b"))),
        k(VecDot(d("a"), x("b"))),
        k(VecL2Sq(x("a"), d("b"))),
        k(PqEncode(x("a"), Literal(cb.flat), cb.m, cb.ksub)),
        k(PqEncode(d("a"), Literal(cb.flat), cb.m, cb.ksub)),
        k(PqAdc(x("codes"), Literal(table), cb.ksub)))
    ).map { df =>
      val rows = df.collect().sortBy(_.getLong(0)).toSeq
      (df.queryExecution.executedPlan.exists(_.isInstanceOf[WholeStageCodegenExec]), rows)
    }

    val interpreted = spark.newSession()
    interpreted.conf.set("spark.sql.codegen.wholeStage", "false")
    interpreted.conf.set("spark.sql.codegen.factoryMode", "NO_CODEGEN")
    val generated = run(spark)
    val evaluated = run(interpreted)
    assert(generated.forall(_._1) && !evaluated.exists(_._1),
      "the default run must be whole-stage generated, the other interpreted")
    generated.zip(evaluated).foreach { case ((_, g), (_, e)) =>
      assert(g.size == e.size && g.size > 100)
      val diff = g.zip(e).filter { case (a, b) => a != b }
      assert(diff.isEmpty, s"${diff.size} rows differ, first: ${diff.headOption}")
    }
    // the edge rows reach both paths: nulls propagate, mismatches null out
    val Seq(hashEdges, vecEdges) = generated.map(_._2
      .filter(_.getLong(0) < 0).map(r => r.getLong(0) -> r).toMap)
    assert(hashEdges(-1L).isNullAt(1) && hashEdges(-3L).isNullAt(5)
      && hashEdges(-4L).getSeq[Long](8).isEmpty)
    assert(vecEdges(-2L).isNullAt(1) && vecEdges(-3L).isNullAt(1)
      && vecEdges(-5L).getDouble(1) == 0.0 && vecEdges(-4L).isNullAt(5)
      && vecEdges(-6L).isNullAt(5) && vecEdges(-4L).isNullAt(7) && !vecEdges(-6L).isNullAt(7))
  }

  test("text kernels: interpreted eval ≡ generated code, row for row") {
    import org.apache.spark.sql.{Row, SparkSession}
    import org.apache.spark.sql.catalyst.expressions.{Expression, Literal}
    import org.apache.spark.sql.execution.WholeStageCodegenExec
    import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
    import graft.plans._
    // the corpus and the text_scores battery, plus a null, control
    // characters and the json_long / safe_long / pii_scan edges, so every
    // kernel meets input it parses; written to parquet, so neither run
    // can fold a kernel into a constant
    val dir = java.nio.file.Files.createTempDirectory("text-kernel-paths").toString
    val more = Seq(null, "\u0000", "nul\u0000 bell\u0007 esc\u001b end",
      """{"k": 76}""", """{"k": null}""", """{"k": 7.5}""", """{"k": 5} x""",
      "{\"k\":\t5\n}", """not json""", "12", "-9223372036854775808", "12.7",
      "1e3", "NaN", " 12", "Brand#13", "two a@b.cc b@c.dd mails 10.0.0.1")
    val edges = spark.createDataFrame(
      java.util.Arrays.asList(more.map(t => Row(t)): _*),
      StructType(Seq(StructField("text", StringType))))
    kernelDocs.unionByName(edges)
      .withColumn("id", monotonically_increasing_id())
      .withColumn("th", transform(TextFunctions.tokens(col("text")), t => xxhash64(t)))
      .write.parquet(s"$dir/text")

    def k(e: Expression): org.apache.spark.sql.Column = ExpressionColumn(e)
    val text = expression(col("text"))
    val weights = Literal(Array.tabulate(64)(i => (i * 37 % 101 - 50).toLong))
    def run(s: SparkSession): (Boolean, Seq[Row]) = {
      val df = s.read.parquet(s"$dir/text").select(col("id"),
        k(TextRepScoresExpr(text)),
        k(TokenCountExpr(text)),
        k(FingerprintMd5Expr(text)),
        k(ClassifierMilliExpr(text, Literal(65536))),
        k(PiiScanExpr(text)),
        k(JsonLongExpr(text, Literal("k"))),
        k(JsonScanExpr(text, Literal("k"))),
        k(SafeLongExpr(text)),
        k(SafeDoubleExpr(text)),
        k(ArrayPmodExpr(expression(col("th")), Literal(2305843009213693951L))),
        k(TokenHashesExpr(text)),
        k(ChunkHashesExpr(text, Literal(10))),
        k(GramBucketsExpr(text, Literal(4096))),
        k(ClassifierWeightedExpr(text, weights)),
        k(SubwordCountExpr(text, Literal(Array("e", "t", "th", "a", "i")),
          Literal(Array("</w>", "h", "e</w>", "a", "n")))),
        k(DropTokenSpansExpr(text, Literal(Array(-2, 0, 5, 12)), Literal(3))),
        k(TextScoresExpr(text)),
        k(TextFullStatsExpr(text)),
        k(TextGateExpr(text, Literal(0.75), Literal(0.2))))
      (df.queryExecution.executedPlan.exists(_.isInstanceOf[WholeStageCodegenExec]),
        df.collect().sortBy(_.getLong(0)).toSeq)
    }

    val interpreted = spark.newSession()
    interpreted.conf.set("spark.sql.codegen.wholeStage", "false")
    interpreted.conf.set("spark.sql.codegen.factoryMode", "NO_CODEGEN")
    val (wholeStage, generated) = run(spark)
    val (wholeStageOff, evaluated) = run(interpreted)
    assert(wholeStage && !wholeStageOff,
      "the default run must be whole-stage generated, the other interpreted")
    assert(generated.size == evaluated.size && generated.size > 100)
    val diff = generated.zip(evaluated).filter { case (a, b) => a != b }
    assert(diff.isEmpty, s"${diff.size} rows differ, first: ${diff.headOption}")
    // the edge rows reach both paths: a null text nulls every kernel, and
    // the nullable kernels return values and nulls
    val nulls = generated.filter(r => r.isNullAt(2))
    assert(nulls.size == 1 && (1 to 19).forall(nulls.head.isNullAt))
    assert(generated.exists(r => !r.isNullAt(8) && r.getLong(8) == Long.MinValue))
    assert(generated.exists(r => !r.isNullAt(6) && r.getLong(6) == 76L))
    assert(generated.exists(r => !r.isNullAt(2) && r.isNullAt(6) && r.isNullAt(9)))
  }
}
