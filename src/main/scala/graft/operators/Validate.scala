package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._

/** Declarative data-quality validation gates.
  *
  * The reference validates frames before/after every load with ad-hoc
  * imperative checks (misa_crm_loader.py:1021 expected-vs-loaded
  * counts, misa_crm_transformer.py:771 flatten invariants,
  * tiktok_shop_transformer.py:451 required columns + null keys). Here
  * the checks are DATA: a list of [[Expectation]]s compiled into ONE
  * aggregate pass over the frame (conditional sums + count_distinct —
  * map-side combined, no per-expectation jobs), exploded into a
  * per-expectation violations report. A 100 TB batch pays one scan
  * for its whole quality gate.
  *
  * An incremental ETL cycle pays no pass for its gate at all: the same
  * counters, conditioned on the source's rows, are observed inside the
  * MERGE's own write ([[inMerge]]), and the gate is checked before the
  * target is published. Only a [[Unique]] on a column other than the
  * sole merge key keeps an aggregate of its own there.
  *
  * Report schema: (expectation, column, n_rows, n_bad, bad_rate,
  * threshold, passed) — one row per expectation, SQL-replayable for
  * the oracle. [[requireValid]] is the fail-the-batch form.
  */
object Validate {

  sealed trait Expectation {
    def label: String
    def column: String
    def threshold: Double
  }

  /** Null rate of `column` must be ≤ maxNullRate. */
  case class NotNull(column: String, maxNullRate: Double = 0.0)
      extends Expectation {
    val label = "not_null"; val threshold = maxNullRate
  }

  /** Non-null values must cast cleanly to `dataType` (try_cast
    * semantics) at a failure rate ≤ maxBadRate. */
  case class TypeConforms(column: String, dataType: String,
      maxBadRate: Double = 0.0) extends Expectation {
    val label = "type_conforms"; val threshold = maxBadRate
  }

  /** Non-null values must be one of `allowed` at a failure rate
    * ≤ maxBadRate. */
  case class InSet(column: String, allowed: Seq[String],
      maxBadRate: Double = 0.0) extends Expectation {
    val label = "in_set"; val threshold = maxBadRate
  }

  /** Non-null values must lie in [min, max] (None = unbounded) at a
    * failure rate ≤ maxBadRate. */
  case class InRange(column: String, min: Option[Double],
      max: Option[Double], maxBadRate: Double = 0.0) extends Expectation {
    val label = "in_range"; val threshold = maxBadRate
  }

  /** Duplicate rate of non-null values must be ≤ maxDupRate
    * (n_bad = non-null count − distinct count). */
  case class Unique(column: String, maxDupRate: Double = 0.0)
      extends Expectation {
    val label = "unique"; val threshold = maxDupRate
  }

  /** Total row count must lie in [minRows, maxRows] — the
    * expected-vs-loaded check; for an incremental batch, derive the
    * bounds from the prior batch's audited count (Stats.auditLog). */
  case class RowCountBetween(minRows: Long, maxRows: Long)
      extends Expectation {
    val label = "row_count"; val column = ""
    val threshold = 0.0
  }

  /** A batch failed its quality gate; the message names every failed
    * expectation. */
  final class ValidationException(msg: String) extends RuntimeException(msg)

  /** One expectation's outcome over a frame of `nRows` rows — one row
    * of the [[check]] report. */
  final case class Verdict(expectation: Expectation, nRows: Long,
      nBad: Long, badRate: Double, passed: Boolean)

  /** The row-local violation test of an expectation; [[Unique]] and
    * [[RowCountBetween]] have none. */
  private def violates(e: Expectation): Column = e match {
    case NotNull(c, _) => col(c).isNull
    case TypeConforms(c, t, _) => col(c).isNotNull && col(c).try_cast(t).isNull
    case InSet(c, allowed, _) => col(c).isNotNull && !col(c).isin(allowed: _*)
    case InRange(c, mn, mx, _) =>
      val out = (mn.map(col(c) < lit(_)) ++ mx.map(col(c) > lit(_)))
        .reduceOption(_ || _).getOrElse(lit(false))
      col(c).isNotNull && out
    case Unique(_, _) | RowCountBetween(_, _) => lit(false)
  }

  /** The exact duplicate count of a [[Unique]] column over a whole
    * frame: non-null values minus distinct ones. */
  private def distinctDupes(c: String): Column =
    count(col(c)) - count_distinct(col(c))

  /** The aggregate columns of one gate over the rows where `rows`
    * holds: the row count, then one violation counter per expectation
    * (null-safe: every counter reads 0 on no rows). A [[Unique]] counts
    * `unique(column)`. Callers add them to an aggregate they already
    * run and read the verdicts back with [[verdicts]], so the gate costs
    * no pass of its own. */
  private[graft] def counters(expectations: Seq[Expectation],
      rows: Column = lit(true),
      unique: String => Column = distinctDupes): Seq[Column] =
    count(when(rows, 1)).as("__n") +: expectations.zipWithIndex.map { case (e, i) =>
      (e match {
        case Unique(c, _) => coalesce(unique(c), lit(0L))
        case RowCountBetween(_, _) => lit(0L)
        case _ => coalesce(sum(when(rows && violates(e), 1L)), lit(0L))
      }).as(s"__bad$i")
    }

  /** A gate counted inside the write of a gated
    * [[Incremental.mergeInto]] over `updates`: the [[counters]] of its
    * `updates` rows, and the reader of their [[verdicts]] from the
    * observed row at field `at`. A [[Unique]] on the sole merge key
    * counts the key's repeats ([[Incremental.repeatOfKey]]) — exact,
    * since the write sees every key's rows together. A Unique on any
    * other column is not countable from rows partitioned by the key, so
    * those counters alone run here as one aggregate over `updates`, a
    * pass of its own before the MERGE, and the reader puts their values
    * in place. */
  private[graft] def inMerge(updates: DataFrame, keys: Seq[String],
      expectations: Seq[Expectation]): (Seq[Column], (Row, Int) => Seq[Verdict]) = {
    val apart = expectations.zipWithIndex.collect {
      case (Unique(c, _), i) if keys != Seq(c) => (c, i)
    }
    val counted = if (apart.isEmpty) Nil else {
      val cs = apart.map { case (c, _) => distinctDupes(c) }
      val row = updates.agg(cs.head, cs.tail: _*).head()
      apart.indices.map(row.getLong)
    }
    val cs = counters(expectations, Incremental.fromUpdates, c =>
      if (keys == Seq(c)) sum(when(Incremental.repeatOfKey && col(c).isNotNull, 1L))
      else lit(0L))
    def read(row: Row, at: Int): Seq[Verdict] = {
      val values = apart.map(_._2).zip(counted).foldLeft(row.toSeq) {
        case (vs, (i, bad)) => vs.updated(at + 1 + i, bad)
      }
      verdicts(expectations, Row.fromSeq(values), at)
    }
    (cs, read)
  }

  /** The verdicts of `expectations` from the [[counters]] values of one
    * aggregate row, starting at field `at`. The rate and the comparison
    * are the [[check]] report's: `round(bad / max(n, 1), 6)` is Spark's
    * half-up `BigDecimal.valueOf(d).setScale(6)`. */
  private[graft] def verdicts(expectations: Seq[Expectation],
      row: Row, at: Int): Seq[Verdict] = {
    val n = row.getLong(at)
    expectations.zipWithIndex.map { case (e, i) =>
      e match {
        case RowCountBetween(mn, mx) =>
          val ok = n >= mn && n <= mx
          Verdict(e, n, 0L, if (ok) 0.0 else 1.0, ok)
        case _ =>
          val bad = row.getLong(at + 1 + i)
          val rate = java.math.BigDecimal.valueOf(
              bad.toDouble / math.max(n, 1L).toDouble)
            .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue
          Verdict(e, n, bad, rate, rate <= e.threshold)
      }
    }
  }

  /** Throws [[ValidationException]] naming every failed verdict in
    * (expectation, column) order — the [[check]] report's order. */
  private[graft] def requirePassed(batch: String, vs: Seq[Verdict]): Unit = {
    val failed = vs.filterNot(_.passed)
      .sortBy(v => (v.expectation.label, v.expectation.column))
    if (failed.nonEmpty)
      throw new ValidationException(s"$batch: ${failed.length} expectation(s) " +
        "failed: " + failed.map(v =>
          s"${v.expectation.label}(${v.expectation.column})").mkString(", "))
  }

  /** Run every expectation in one aggregate pass; returns the
    * violations report ordered by (expectation, column).
    *
    * Scale note (r13, x100 = 15 M seeded orders): with a [[Unique]]
    * expectation present, Catalyst plans the one-distinct case WITHOUT
    * any Expand (partial aggregate keyed on the unique column -> one
    * exchange -> merge), so the 2.7x residual vs DuckDB is the key
    * exchange itself, not plan shape. Two rewrites were measured and
    * rejected: an explicit two-level groupBy(key) aggregation timed
    * identical (same plan family; 1.99 vs 1.80 s window noise), and
    * splitting the distinct into its own bare-key branch read 1.69 vs
    * 1.99 s but breaks the gate's single-scan contract for ~0.3 s.
    * Same-window DuckDB twins of the two halves: distinct sub-agg
    * alone 0.40 s vs Spark 1.36; row-local sums alone 0.29 vs 0.82 —
    * a UNIFORM ~3x vectorized-vs-codegen agg-throughput constant on
    * both halves (not a distinct-specific defect), the same
    * engine-constant class as the adjudicated q10/q29 residuals
    * (twin figures in BASELINE.md r13). */
  def check(df: DataFrame, expectations: Seq[Expectation]): DataFrame = {
    require(expectations.nonEmpty, "no expectations given")
    val cs = counters(expectations)
    report(df.agg(cs.head, cs.tail: _*), expectations)
  }

  /** Explode the one-row [[counters]] aggregate into the
    * per-expectation report. */
  private def report(agged: DataFrame,
      expectations: Seq[Expectation]): DataFrame = {
    val reportRows = expectations.zipWithIndex.map { case (e, i) =>
      val n = col("__n")
      val bad = col(s"__bad$i")
      val (nBad, rate, passed) = e match {
        case RowCountBetween(mn, mx) =>
          val ok = n >= mn && n <= mx
          (lit(0L), when(ok, 0.0).otherwise(1.0), ok)
        case _ =>
          val r = round(bad.cast("double") / greatest(n, lit(1L)).cast("double"), 6)
          (bad, r, r <= e.threshold)
      }
      struct(lit(e.label).as("expectation"), lit(e.column).as("column"),
        n.as("n_rows"), nBad.as("n_bad"), rate.as("bad_rate"),
        lit(e.threshold).as("threshold"), passed.as("passed"))
    }
    agged.select(explode(array(reportRows: _*)).as("r"))
      .select("r.*")
      .orderBy("expectation", "column")
  }

  /** Per-key statistical profile in ONE aggregate pass: row count,
    * null count, mean and sample-stddev of `valCol` — the persistable
    * per-batch artifact a drift monitor compares across loads (the
    * monitoring half of the reference's validate_loaded_data:
    * misa_crm_loader.py:1021 checks counts once; real pipelines also
    * watch the distribution move). */
  def profileByKey(df: DataFrame, keyCol: String, valCol: String): DataFrame =
    df.groupBy(col(keyCol))
      .agg(count(lit(1)).as("n_rows"),
        sum(when(col(valCol).isNull, 1L).otherwise(0L)).as("n_null"),
        avg(col(valCol)).as("mean_val"),
        stddev_samp(col(valCol)).as("std_val"))

  /** Drift report between two profiled windows: per key, both windows'
    * counts/means plus the relative mean shift and a flag at `relTol`.
    * Profiles are key-cardinality-sized — the comparison is a
    * metadata-scale join however large the underlying windows were,
    * and historical profiles can be persisted per batch and compared
    * without ever rescanning either window. Keys missing from one
    * window report null stats and always flag (appearance /
    * disappearance IS drift). */
  def driftReport(cur: DataFrame, prev: DataFrame, keyCol: String,
      valCol: String, relTol: Double): DataFrame =
    driftFromProfiles(profileByKey(cur, keyCol, valCol),
      profileByKey(prev, keyCol, valCol), keyCol, relTol)

  /** Same report from two PERSISTED profile frames ([[profileByKey]]
    * schema) — the artifact path: per-batch profiles written next to
    * each load (or by the streaming sink) compare without rescanning
    * either window. */
  def driftFromProfiles(curProf: DataFrame, prevProf: DataFrame,
      keyCol: String, relTol: Double): DataFrame = {
    val a = curProf.select(col(keyCol), col("n_rows").as("n_cur"),
      col("mean_val").as("mean_cur"))
    val b = prevProf.select(col(keyCol), col("n_rows").as("n_prev"),
      col("mean_val").as("mean_prev"))
    a.join(b, Seq(keyCol), "full_outer")
      .withColumn("rel_mean_shift",
        abs(col("mean_cur") - col("mean_prev")) /
          greatest(abs(col("mean_prev")), lit(1e-12)))
      .withColumn("is_drift",
        col("mean_cur").isNull || col("mean_prev").isNull ||
          col("rel_mean_shift") > relTol)
  }

  /** Referential-integrity gate: the rate of non-null child keys with
    * no matching parent key must be ≤ maxOrphanRate (nulls are not FK
    * violations — SQL FK semantics). Same report schema as [[check]],
    * so the rows union into one quality report. One anti-join on the
    * key — shuffled on both sides at scale, AQE-skew-splittable;
    * Catalyst broadcasts the parent side when it is small. */
  def checkFk(child: DataFrame, parent: DataFrame,
      childKey: String, parentKey: String,
      maxOrphanRate: Double = 0.0): DataFrame = {
    // one child scan: left join against distinct parent keys, count
    // misses conditionally (an agg + anti-join pair would scan twice)
    val pk = parent.where(col(parentKey).isNotNull)
      .select(col(parentKey).as("__pk")).distinct()
    val stats = child.select(col(childKey).as("__ck"))
      .join(pk, col("__ck") === col("__pk"), "left")
      .agg(count(lit(1)).as("__n"),
        coalesce(sum(when(col("__ck").isNotNull && col("__pk").isNull, 1L)),
          lit(0L)).as("__bad"))
    stats.select(
      lit("fk_integrity").as("expectation"),
      lit(childKey).as("column"),
      col("__n").as("n_rows"),
      col("__bad").as("n_bad"),
      round(col("__bad").cast("double") /
        greatest(col("__n"), lit(1L)).cast("double"), 6).as("bad_rate"),
      lit(maxOrphanRate).as("threshold"),
      (round(col("__bad").cast("double") /
        greatest(col("__n"), lit(1L)).cast("double"), 6) <= maxOrphanRate)
        .as("passed"))
  }

  /** Per-COLUMN table profile in one aggregate pass (the Deequ-style
    * profiling companion to [[profileByKey]]'s per-key form): for every
    * requested column — row count, null count, distinct count, and
    * type-appropriate extremes (numeric min/max/mean as doubles;
    * string/timestamp min/max as strings, timestamps formatted to
    * seconds). Three independent global aggregates whose stage chains
    * overlap inside one job (see the pass split below): plain counts/
    * extremes, sort-free string extremes, and the exact distincts —
    * the only expansion (Spark plans n distinct aggregates as one
    * Expand — n× the scan's rows into map-side partials), kept out of
    * the other passes' way. `exactDistinct = false` swaps in
    * HLL++ `approx_count_distinct` — fixed-size mergeable partials, the
    * 100 TB default when the profile feeds monitoring rather than an
    * equality oracle (drift bound spec'd in ValidateSpec).
    *
    * The mean uses the exact-decimal sum ÷ count, both cast to double
    * BEFORE dividing and rounded to 6 — bit-portable across engines
    * (the [[graft.queries.QualityQueries]] oracle replays it).
    *
    * Output: (column_name, n_rows, n_nulls, n_distinct, num_min,
    * num_max, num_avg, str_min, str_max) — one row per column;
    * persistable per batch like [[profileByKey]]'s artifact. */
  def profile(df: DataFrame, cols: Seq[String],
      exactDistinct: Boolean = true): DataFrame = {
    require(cols.nonEmpty, "no columns given")
    import org.apache.spark.sql.types._
    val fields = df.schema.fields.map(f => f.name -> f.dataType).toMap
    def isNum(c: String) = fields(c) match {
      case _: NumericType => true
      case _ => false
    }
    def isTs(c: String) = fields(c) match {
      case TimestampType | TimestampNTZType => true
      case _ => false
    }
    // PASS 1 — everything with a PRIMITIVE aggregate buffer and NO
    // distinct rewrite: counts, numeric min/max/mean, timestamps as
    // epoch-micros longs (formatted after the fact). min/max(string)
    // would demote the ENTIRE agg to SortAggregate — two sorts of the
    // rows (measured: 2.8 s vs 0.8 s at sf0.1) — so string extremes
    // run in PASS 2, a separate global agg: no grouping keys, hence no
    // sort. EXACT distinct counts run as their own PASS 3: n distinct
    // aggregates plan as one Expand (n× the scan's rows), and fusing
    // the plain aggregates into that pipeline drags every non-distinct
    // buffer through the Expand's four agg stages — measured x10:
    // fused 2.59 s vs split 1.47 s (distinct-only 1.40 + plain 0.21 +
    // strings 0.22, the independent stage chains overlap); sf0.1
    // 1.98 → 1.05 s. Shuffle payload width is NOT the cost
    // (count_distinct over xxhash64'd values timed identical), so the
    // split, not value narrowing, is the right lever. r12: a manual
    // explode + two-phase dedup replacement for PASS 3 (posexplode of
    // xxhash64'd values -> groupBy(col, value) partial dedup ->
    // per-col count) measured 2.88 s vs the planner's multi-distinct
    // Expand at 2.81 s (x100) — REJECTED: Spark's 4-stage distinct
    // plan already partial-dedups (gid, value) before its exchange,
    // so the rewrite re-implements the same volume with one more
    // exchange. The HLL path
    // (exactDistinct=false) has mergeable fixed-size buffers and no
    // Expand, so it stays fused in pass 1 — one scan total. The
    // one-row frames cross-join for free.
    val p1Aggs = cols.flatMap { c =>
      (if (exactDistinct) Nil
       else Seq(approx_count_distinct(col(c)).cast("long")
         .as(s"__${c}_distinct"))) ++
      Seq(
        coalesce(sum(when(col(c).isNull, 1L)), lit(0L)).as(s"__${c}_nulls")) ++
      (if (isNum(c)) Seq(
        min(col(c)).cast("double").as(s"__${c}_nmin"),
        max(col(c)).cast("double").as(s"__${c}_nmax"),
        round(sum(col(c).cast("decimal(18,2)")).cast("double") /
          count(col(c)), 6).as(s"__${c}_navg"))
      else if (isTs(c)) Seq( // NTZ folds via session-tz cast (UTC here)
        min(unix_micros(col(c).cast("timestamp"))).as(s"__${c}_tmin"),
        max(unix_micros(col(c).cast("timestamp"))).as(s"__${c}_tmax"))
      else Nil)
    }
    val strCols = cols.filter(c => !isNum(c) && !isTs(c))
    val p1 = df.agg(count(lit(1)).as("__n"), p1Aggs: _*)
    val withStr =
      if (strCols.isEmpty) p1
      else {
        val p2Aggs = strCols.flatMap(c => Seq(
          min(col(c)).cast("string").as(s"__${c}_smin"),
          max(col(c)).cast("string").as(s"__${c}_smax")))
        p1.crossJoin(df.agg(p2Aggs.head, p2Aggs.tail: _*))
      }
    val agged =
      if (!exactDistinct) withStr
      else {
        val p3Aggs = cols.map(c =>
          count_distinct(col(c)).cast("long").as(s"__${c}_distinct"))
        withStr.crossJoin(df.agg(p3Aggs.head, p3Aggs.tail: _*))
      }
    val rows = cols.map { c =>
      val (nmin, nmax, navg, smin, smax) =
        if (isNum(c))
          (col(s"__${c}_nmin"), col(s"__${c}_nmax"), col(s"__${c}_navg"),
            lit(null).cast("string"), lit(null).cast("string"))
        else if (isTs(c))
          (lit(null).cast("double"), lit(null).cast("double"),
            lit(null).cast("double"),
            date_format(timestamp_micros(col(s"__${c}_tmin")),
              "yyyy-MM-dd HH:mm:ss"),
            date_format(timestamp_micros(col(s"__${c}_tmax")),
              "yyyy-MM-dd HH:mm:ss"))
        else
          (lit(null).cast("double"), lit(null).cast("double"),
            lit(null).cast("double"), col(s"__${c}_smin"), col(s"__${c}_smax"))
      struct(lit(c).as("column_name"), col("__n").as("n_rows"),
        col(s"__${c}_nulls").as("n_nulls"),
        col(s"__${c}_distinct").as("n_distinct"),
        nmin.as("num_min"), nmax.as("num_max"), navg.as("num_avg"),
        smin.as("str_min"), smax.as("str_max"))
    }
    agged.select(explode(array(rows: _*)).as("r"))
      .select("r.*")
      .orderBy("column_name")
  }

  /** True iff every expectation in the report passed. */
  def passed(report: DataFrame): Boolean =
    report.where(!col("passed")).limit(1).count() == 0

  /** Fail-the-batch form: throws with the violating rows rendered. */
  def requireValid(df: DataFrame, expectations: Seq[Expectation]): Unit = {
    val report = check(df, expectations).cache()
    try {
      val bad = report.where(!col("passed")).collect()
      if (bad.nonEmpty)
        throw new IllegalStateException(
          "data-quality gate failed:\n" + bad.mkString("\n"))
    } finally { report.unpersist(); () }
  }
}
