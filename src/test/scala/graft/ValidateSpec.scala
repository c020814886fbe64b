package graft

import org.apache.spark.sql.functions._
import graft.operators.Validate
import graft.operators.Validate._

class ValidateSpec extends SparkTestBase {
  import spark.implicits._

  private def frame = Seq(
    (1L, Some("a"), "10", 5.0),
    (2L, None, "20", -1.0),
    (3L, Some("c"), "xx", 7.0),
    (3L, Some("a"), "30", 2.0)
  ).toDF("id", "cat", "code", "amount")

  test("one aggregate pass yields a per-expectation report") {
    val report = Validate.check(frame, Seq(
      NotNull("cat", maxNullRate = 0.3),
      NotNull("id"),
      TypeConforms("code", "bigint"),
      InSet("cat", Seq("a", "c")),
      InRange("amount", Some(0.0), Some(100.0)),
      Unique("id"),
      RowCountBetween(1, 10)))
    val byKey = report.collect()
      .map(r => (r.getString(0), r.getString(1)) -> r).toMap
    assert(byKey(("not_null", "cat")).getBoolean(6))   // 1/4 = 0.25 <= 0.3
    assert(byKey(("not_null", "id")).getBoolean(6))
    assert(!byKey(("type_conforms", "code")).getBoolean(6)) // "xx"
    assert(byKey(("in_set", "cat")).getBoolean(6))     // nulls don't count
    assert(!byKey(("in_range", "amount")).getBoolean(6)) // -1.0
    assert(!byKey(("unique", "id")).getBoolean(6))     // id 3 twice
    assert(byKey(("row_count", "")).getBoolean(6))
    assert(byKey(("unique", "id")).getLong(3) == 1L)
    assert(!Validate.passed(report))
  }

  test("empty frame: rate checks pass, row-count floor fails") {
    val report = Validate.check(frame.where(lit(false)), Seq(
      NotNull("cat"), Unique("id"), RowCountBetween(1, 10)))
    val byKey = report.collect().map(r => r.getString(0) -> r).toMap
    assert(byKey("not_null").getBoolean(6))
    assert(byKey("unique").getBoolean(6))
    assert(!byKey("row_count").getBoolean(6))
  }

  test("requireValid throws with the violating expectations") {
    val e = intercept[IllegalStateException] {
      Validate.requireValid(frame, Seq(InRange("amount", Some(0.0), None)))
    }
    assert(e.getMessage.contains("in_range"))
    Validate.requireValid(frame, Seq(NotNull("id"))) // passes: no throw
  }

  test("checkFk counts orphans, ignores null keys, unions with check reports") {
    val parent = Seq(1L, 2L, 3L).toDF("pk")
    val child = Seq(Some(1L), Some(1L), Some(9L), None).toDF("fk")
    val report = Validate.checkFk(child, parent, "fk", "pk", maxOrphanRate = 0.1)
    val r = report.head()
    assert(r.getString(0) == "fk_integrity" && r.getLong(2) == 4L)
    assert(r.getLong(3) == 1L, "one orphan (9); null is not an FK violation")
    assert(!r.getBoolean(6)) // 0.25 > 0.1
    // same schema as check() → rows union into one quality report
    val combined = Validate.check(child, Seq(NotNull("fk", 0.5)))
      .unionByName(report)
    assert(combined.count() == 2 && combined.columns.toSeq ==
      Seq("expectation", "column", "n_rows", "n_bad", "bad_rate", "threshold", "passed"))
  }

  test("driftReport: shifts flagged at tolerance; missing keys always drift") {
    import spark.implicits._
    val prev = Seq(("a", 10.0), ("a", 10.0), ("b", 5.0), ("gone", 1.0))
      .toDF("k", "v")
    val cur = Seq(("a", 10.4), ("a", 10.6), ("b", 5.01), ("new", 9.0))
      .toDF("k", "v")
    val out = Validate.driftReport(cur, prev, "k", "v", relTol = 0.03)
      .select("k", "is_drift").as[(String, Boolean)].collect().toMap
    assert(out("a") === true)    // mean 10 → 10.5 = 5% > 3%
    assert(out("b") === false)   // 0.2% shift
    assert(out("gone") === true) // disappeared
    assert(out("new") === true)  // appeared
  }

  test("profile: per-column counts/extremes on a hand-built frame") {
    val df = Seq(
      (1L, Some(2.0), Some("b")),
      (2L, Some(4.0), Some("a")),
      (3L, None, Some("a")),
      (4L, Some(4.0), None)
    ).toDF("id", "v", "s")
    val out = Validate.profile(df, Seq("id", "v", "s"))
      .collect().map(r => r.getString(0) -> r).toMap
    val id = out("id")
    assert(id.getLong(1) == 4L && id.getLong(2) == 0L && id.getLong(3) == 4L)
    assert(id.getDouble(4) == 1.0 && id.getDouble(5) == 4.0 &&
      id.getDouble(6) == 2.5)
    val v = out("v")
    assert(v.getLong(2) == 1L && v.getLong(3) == 2L) // 1 null; {2.0, 4.0}
    assert(v.getDouble(4) == 2.0 && v.getDouble(5) == 4.0 &&
      v.getDouble(6) == 3.333333) // mean over non-null (2+4+4)/3, round 6
    val s = out("s")
    assert(s.getLong(2) == 1L && s.getLong(3) == 2L)
    assert(s.isNullAt(4) && s.getString(7) == "a" && s.getString(8) == "b")
  }

  test("profile: approx-distinct mode stays within HLL drift of exact") {
    val ev = Tables.load(spark, sf001, "events")
    val cols = Seq("event_id", "user_id", "event_type")
    val exact = Validate.profile(ev, cols).collect()
      .map(r => r.getString(0) -> r.getLong(3)).toMap
    val approx = Validate.profile(ev, cols, exactDistinct = false).collect()
      .map(r => r.getString(0) -> r.getLong(3)).toMap
    for (c <- cols) {
      val rel = math.abs(approx(c) - exact(c)).toDouble / math.max(exact(c), 1L)
      assert(rel < 0.05, s"$c: approx ${approx(c)} vs exact ${exact(c)}")
    }
  }

  test("profile: Expand pipeline stays hash-aggregated, no data sorts") {
    // min/max(string) in the same agg as the distincts would demote
    // the whole Expand pipeline to SortAggregate UNDER A SORT of the
    // n×-multiplied rows (measured 2.8 s vs 0.8 s at sf0.1). The pass
    // split keeps the Expand side in HashAggregate; the string pass
    // may plan SortAggregate but with no grouping keys it requires no
    // ordering — so every SortAggregate must be keyless, and the ONLY
    // Sort in the plan is the final orderBy.
    val df = Seq((1L, 2.0, "x")).toDF("id", "v", "s")
    val plan = Validate.profile(df, Seq("id", "v", "s"))
      .queryExecution.executedPlan.toString
    val sorts = plan.linesIterator.count(_.trim.matches("^[+:]?-* *Sort .*"))
    assert(sorts == 1, s"expected only the output orderBy Sort, got $sorts:\n$plan")
    assert(plan.contains("Expand"), "exact multi-distinct should plan an Expand")
    val keyedSortAggs = plan.linesIterator
      .filter(_.contains("SortAggregate")).filterNot(_.contains("key=[]"))
      .toSeq
    assert(keyedSortAggs.isEmpty,
      s"keyed SortAggregate (requires a data sort) in plan:\n${keyedSortAggs.mkString("\n")}")
  }

  test("whole gate is one aggregate job (single scan)") {
    val report = Validate.check(frame, Seq(
      NotNull("cat"), TypeConforms("code", "bigint"), InSet("cat", Seq("a", "c")),
      InRange("amount", Some(0.0), None), RowCountBetween(1, 10)))
    val scans = report.queryExecution.executedPlan.toString
      .linesIterator.count(_.contains("Scan"))
    assert(scans <= 1, s"expected a single scan, plan has $scans")
  }

  test("driver-side verdicts equal check's report over an (n, n_bad, threshold) grid") {
    // round(rate, 6) is half-up on the decimal form of the double:
    // 1/128 = 0.0078125, 3/128 = 0.0234375 and 1/640 = 0.0015625 sit
    // exactly on the boundary and round up
    val thresholds = Seq(0.0, 0.0015625, 0.001563, 0.0078125, 0.007812,
      0.007813, 0.0234375, 0.023438, 1.0 / 3, 0.333333, 0.5, 1.0)
    def rows(vs: Seq[Verdict]) = vs.map(v => (v.expectation.label,
      v.expectation.column, v.expectation.threshold, v.nRows, v.nBad,
      v.badRate, v.passed))
    for (n <- Seq(0, 1, 7, 128, 640)) {
      val badCounts = Seq(0, 1, 3, n / 2, n).filter(_ <= n).distinct
      val id = col("id")
      // per bad count k, the first k rows are null / negative / not a
      // number; `u` has duplicates and nulls
      val df = spark.range(n).select(badCounts.flatMap(k => Seq(
        when(id < k, lit(null)).otherwise(id).as(s"nul$k"),
        when(id < k, lit(-1L)).otherwise(id).as(s"neg$k"),
        when(id < k, lit("x")).otherwise(lit("1")).as(s"str$k"))) :+
        when(id % 3 === 0, lit(null)).otherwise(id % 5).as("u"): _*)
      val exps = badCounts.flatMap(k => thresholds.flatMap(t => Seq(
        NotNull(s"nul$k", t), InRange(s"neg$k", Some(0.0), None, t),
        InSet(s"str$k", Seq("1"), t), TypeConforms(s"str$k", "bigint", t)))) ++
        thresholds.map(Unique("u", _)) ++
        Seq(RowCountBetween(n, n), RowCountBetween(n, n + 5),
          RowCountBetween(0, n), RowCountBetween(n + 1, n + 9),
          RowCountBetween(math.max(n - 9, 0), math.max(n - 1, 0)))
      val cs = Validate.counters(exps)
      val driver = Validate.verdicts(exps, df.agg(cs.head, cs.tail: _*).head(), 0)
      val report = Validate.check(df, exps).collect().toSeq.map(r =>
        (r.getString(0), r.getString(1), r.getDouble(5), r.getLong(2),
          r.getLong(3), r.getDouble(4), r.getBoolean(6)))
      assert(report.length == exps.length)
      val mine = rows(driver)
      assert(mine.diff(report).isEmpty && report.diff(mine).isEmpty, s"n = $n")
      if (n == 128) {
        val passed = driver.map(v => v.expectation -> v.passed).toMap
        assert(!passed(NotNull("nul1", 0.0078125)) && passed(NotNull("nul1", 0.007813)))
        assert(!passed(NotNull("nul3", 0.0234375)) && passed(NotNull("nul3", 0.023438)))
      }
      if (n == 640)
        assert(driver.exists(v => v.expectation == NotNull("nul1", 0.0015625) &&
          v.badRate == 0.001563 && !v.passed))
    }
  }

  test("requirePassed names every failed expectation in report order") {
    val exps = Seq(Unique("id"), RowCountBetween(5, 9), NotNull("id"),
      InRange("amount", Some(0.0), None), InSet("cat", Seq("a")))
    val cs = Validate.counters(exps)
    val vs = Validate.verdicts(exps, frame.agg(cs.head, cs.tail: _*).head(), 0)
    val e = intercept[ValidationException](Validate.requirePassed("src/b1", vs))
    assert(e.getMessage == "src/b1: 4 expectation(s) failed: " +
      "in_range(amount), in_set(cat), row_count(), unique(id)")
    Validate.requirePassed("src/b1", vs.filter(_.passed)) // no throw
  }
}
