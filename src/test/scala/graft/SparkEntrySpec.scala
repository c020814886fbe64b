package graft

class SparkEntrySpec extends SparkTestBase {

  test("flagship entry returns rows on sf0.001 (driver smoke contract)") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("every oracle key has a query; every query key is well-formed") {
    val q = SparkEntry.queries.keySet
    val o = SparkEntry.oracleSql.keySet
    assert(o.subsetOf(q), s"oracle keys without queries: ${o -- q}")
    assert(q.forall(_.matches("q[0-9]{2}_[a-z0-9_]+")), q)
  }

  test("all registered queries run and return rows at sf0.001") {
    SparkEntry.queries.foreach { case (name, fn) =>
      val n = fn(spark, sf0001).count()
      // q18/q19 near-dup pairs legitimately exist; every query must
      // produce at least one row so the driver's rows-only check means
      // something
      assert(n > 0, s"$name returned 0 rows at sf0.001")
    }
  }

  test("q42 output pinned at sf0.01 (kernel regression gate for the rows-only idf path)") {
    // q42 is the slowest rows-only query: its q43 portable twin
    // oracles the ALGORITHM bit-for-bit through DuckDB, but q42's own
    // rows live in the native kernel hash domain (shingle_hashes mixes
    // token hashes, where the portable twin hashes the shingle string,
    // so the two queries' rows are NOT equal, only overlapping). The
    // loud-failure gate is this pin:
    // the query is fully deterministic, so any regression in
    // token_hashes / shingle_hashes / simhash128w / the banded-idf
    // weighting moves at least one fingerprint and changes this row
    // set. Re-derive intentionally (println the rows) only alongside a
    // reviewed kernel change.
    val rows = SparkEntry.queries("q42_simhash_idf")(spark, sf001)
      .select("doc_a", "doc_b", "hamming")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    val pinned = Seq(
      (8L, 245L, 5L), (31L, 383L, 7L), (45L, 267L, 5L), (45L, 413L, 8L),
      (58L, 293L, 2L), (61L, 185L, 5L), (70L, 447L, 2L), (72L, 377L, 7L),
      (98L, 290L, 3L), (107L, 387L, 6L), (120L, 332L, 6L), (152L, 178L, 6L),
      (166L, 323L, 6L), (267L, 413L, 5L), (285L, 301L, 3L), (393L, 420L, 6L),
      (435L, 486L, 5L), (458L, 462L, 7L))
    assert(rows == pinned,
      s"q42 kernel-domain output drifted:\n got $rows\n want $pinned")
    // and the portable twin (the oracle-gated algorithm) must share
    // pairs with the kernel domain — real content duplication shows
    // up in ANY hash domain, so zero overlap would mean one of the
    // two pipelines is finding hash artifacts, not duplicates
    val strong = SparkEntry.queries("q43_simhash_idf_portable")(spark, sf001)
      .select("doc_a", "doc_b", "hamming")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val kernelPairs = rows.map(t => (t._1, t._2)).toSet
    val strongOverlap = strong.intersect(kernelPairs)
    assert(strongOverlap.nonEmpty,
      s"kernel and portable domains share no pairs: $kernelPairs vs $strong")
  }
}
