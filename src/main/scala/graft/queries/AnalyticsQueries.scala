package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.operators.{AsOfJoin, HeavyHitters, RangeJoin, Sessionize, Stats}

/** SURVEY.md §2 rows 22–24: the analytical primitives a consumer of
  * the reference's staging schema runs downstream (attribution,
  * session rollups, leaderboards) — each one window/merge-based, never
  * a range join or per-key collect.
  */
object AnalyticsQueries {
  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    Tables.load(s, dir, name)

  /** events with an exact integer micros column (ts is TIMESTAMP(NANOS)
    * parquet; micros arithmetic matches DuckDB's epoch_us exactly). */
  private def eventsUs(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "events").withColumn("ts_us", expr("ts_ns div 1000"))

  /** §2 #23 — gap-based sessionization (30-min gap), per-session
    * rollup. ONE range exchange on user_id total (r10 — the q44
    * discipline): the windows cluster on it, the session aggregate's
    * (user_id, session_id) clustering is satisfied by the user_id
    * partitioning (a subset of its keys), and the ordered range
    * partitions make the final key-prefixed sort exchange-free. */
  def q27Sessionize(s: SparkSession, dir: String): DataFrame =
    Sessionize.withSessionId(
        eventsUs(s, dir).repartitionByRange(col("user_id")), "user_id",
        col("ts_us"), col("event_id"), gap = 1800000000L)
      .groupBy("user_id", "session_id")
      .agg(
        count(lit(1)).as("n_events"),
        date_format(min(col("ts")), "yyyy-MM-dd HH:mm:ss").as("session_start"),
        date_format(max(col("ts")), "yyyy-MM-dd HH:mm:ss").as("session_end"),
        min(col("ts_us")).as("min_us"), max(col("ts_us")).as("max_us"),
        sum(col("value").cast("decimal(18,2)")).cast("double").as("total_value"))
      .select(col("user_id"), col("session_id").cast("bigint").as("session_id"),
        col("n_events"), col("session_start"), col("session_end"),
        expr("(max_us - min_us) div 1000000").as("duration_sec"),
        col("total_value"))
      .sortWithinPartitions("user_id", "session_id")

  /** §2 #22 — as-of join: each purchase attributed to the latest
    * prior-or-simultaneous view by the same user (merge formulation —
    * one shuffle, no range join). */
  def q28AsofJoin(s: SparkSession, dir: String): DataFrame = {
    val ev = eventsUs(s, dir)
    val purchases = ev.where(col("event_type") === "purchase")
      .select(col("event_id"), col("user_id"), col("ts_us"))
    val views = ev.where(col("event_type") === "view")
      .select(col("event_id").as("view_event_id"), col("user_id"), col("ts_us"))
    AsOfJoin.asOf(
        purchases, col("ts_us"), col("event_id"),
        views, col("ts_us"), col("view_event_id"), key = "user_id")
      .select(col("event_id"), col("user_id"),
        date_format(timestamp_micros(col("ts_us")), "yyyy-MM-dd HH:mm:ss")
          .as("purchase_ts"),
        col("asof_view_event_id").as("view_event_id"),
        expr("(ts_us - asof_ts_us) div 1000000").as("gap_sec"))
      .sortWithinPartitions("event_id")
  }

  /** §2 #24 — top-3 customers by order revenue per nation
    * (WindowGroupLimit keeps per-partition data at n·|groups|). */
  def q29TopnPerGroup(s: SparkSession, dir: String): DataFrame = {
    // r12 x100 reading: 1.27 s for a 15 M-row scan + 15 k-group
    // combine + broadcast joins + WindowGroupLimit — the scan and job
    // floor are the whole cost (same shape as the q60/q45 floor
    // adjudications); no exchange moves more than 15 k rows.
    val rev = t(s, dir, "orders").groupBy("o_custkey")
      .agg(sum(col("o_totalprice").cast("decimal(18,2)")).as("rev_d"))
    val cust = broadcast(t(s, dir, "customer").select("c_custkey", "c_nationkey"))
    val nat = broadcast(t(s, dir, "nation").select("n_nationkey", "n_name"))
    val joined = rev.join(cust, col("o_custkey") === col("c_custkey"))
      .join(nat, col("c_nationkey") === col("n_nationkey"))
    Stats.topNPerGroup(joined, Seq("n_name"),
        Seq(desc("rev_d"), col("c_custkey")), n = 3)
      .select(col("n_name"), col("rnk").cast("bigint").as("rnk"),
        col("c_custkey"), col("rev_d").cast("double").as("revenue"))
      .sortWithinPartitions("n_name", "rnk")
  }

  /** §2 #25 — multi-level aggregates: ROLLUP over (priority, status)
    * with subtotal + grand-total rows. One shuffle; Spark plans the
    * grouping-set Expand before the partial aggregate, so map-side
    * combine still applies. */
  def q30Rollup(s: SparkSession, dir: String): DataFrame = {
    // leaf re-agg (r12): ONE plain (priority, status) aggregate scans
    // the fact with ordinary map-side combine — no Expand — then the
    // rollup's grouping-set machinery runs over the ~|priorities×
    // statuses| leaf rows. Exact because count and sum re-aggregate;
    // rollup-null vs data-null conflation is identical to the direct
    // form (rollup cannot distinguish them either way). Measured x100
    // (15 M orders): 1.79 -> 1.03 s (BASELINE.md round-12); at 100 TB
    // the Expand tax is 3x the scan, the leaf is always tiny.
    val leaf = t(s, dir, "orders")
      .groupBy(col("o_orderpriority"), col("o_orderstatus"))
      .agg(count(lit(1)).as("__n"),
        sum(col("o_totalprice").cast("decimal(18,2)")).as("__rev"))
    leaf.rollup(col("o_orderpriority"), col("o_orderstatus"))
      .agg(sum(col("__n")).as("n_orders"),
        sum(col("__rev")).cast("double").as("revenue"))
      .sortWithinPartitions(col("o_orderpriority").asc_nulls_first,
        col("o_orderstatus").asc_nulls_first)
  }

  /** §2 #25 — pivot: per-day value totals, one column per event type.
    * The value list is explicit, so no discovery pass and a fixed
    * output schema (the 100 TB rule for pivot: never let Spark scan to
    * infer pivot columns). */
  def q31Pivot(s: SparkSession, dir: String): DataFrame =
    // group on the DATE (integer day math), render the string per
    // OUTPUT row after the agg — date_format's formatter otherwise
    // runs per input row (measured x100, 100 M events: 1.29 -> 1.08 s)
    t(s, dir, "events")
      .groupBy(to_date(col("ts")).as("__d"))
      .pivot("event_type", Seq("click", "error", "purchase", "signup", "view"))
      .agg(sum(col("value").cast("decimal(18,2)")).cast("double"))
      .select(date_format(col("__d"), "yyyy-MM-dd").as("d"),
        col("click"), col("error"), col("purchase"), col("signup"),
        col("view"))
      .sortWithinPartitions("d")

  /** §2 #26 — exact interpolated percentiles per group, value-count
    * pre-aggregated: a codegen'd HashAggregate first shrinks to one
    * (group, value, freq) row per DISTINCT value, then the weighted
    * `percentile(v, p, freq)` runs over that — identical state, hence
    * bit-identical result, to the direct form (spec'd in
    * AnalyticsSpec), but the boxed per-row object agg and the exchange
    * see |distinct values per group| rows instead of |rows|: measured
    * r11 at x10 (17.8 k distinct in 1 M rows) 1.04 → 0.79 s. At 100 TB
    * the exchange is value-domain-sized for bounded domains (money
    * grids, latencies) and degrades to the direct form's volume only
    * when values are truly unique; a sort-based rank-interpolation
    * rewrite was also measured (1.90 s — the window exchange+sort of
    * raw rows costs more than both) and rejected. High-cardinality
    * groups' scale path stays approx_percentile (t-digest, mergeable),
    * equivalence-bounded in AnalyticsSpec.
    *
    * The pre-agg's extra stage only pays once the shrink ratio does:
    * measured crossover sits between 100 k rows (direct 0.68 s vs
    * pre-agg 0.78 s — 5.9× shrink doesn't cover the stage) and 1 M
    * (1.04 vs 0.79 — 56× shrink does), so the tier switches on a
    * footer-metadata row count (~10 ms, no job — the q45 self-sizing
    * pattern). */
  def q32Percentile(s: SparkSession, dir: String): DataFrame =
    if (graft.sources.ParquetMeta.rowCount(s, s"$dir/events.parquet")
        < 400000L)
      q32PercentileDirect(s, dir)
    else q32PercentilePreAgg(s, dir)

  private[graft] def q32PercentileDirect(s: SparkSession,
      dir: String): DataFrame =
    t(s, dir, "events")
      .groupBy("event_type")
      .agg(
        round(expr("percentile(value, 0.5)"), 6).as("p50"),
        round(expr("percentile(value, 0.95)"), 6).as("p95"),
        round(expr("percentile(value, 0.99)"), 6).as("p99"))
      .sortWithinPartitions("event_type")

  private[graft] def q32PercentilePreAgg(s: SparkSession,
      dir: String): DataFrame =
    t(s, dir, "events")
      .groupBy(col("event_type"), col("value").as("v"))
      .agg(count(lit(1)).as("freq"))
      .groupBy("event_type")
      .agg(
        round(expr("percentile(v, 0.5, freq)"), 6).as("p50"),
        round(expr("percentile(v, 0.95, freq)"), 6).as("p95"),
        round(expr("percentile(v, 0.99, freq)"), 6).as("p99"))
      .sortWithinPartitions("event_type")

  /** §2 #28 — running (cumulative) revenue per customer in order-date
    * order: one shuffle on the key, decimal-exact prefix sums so the
    * order-dependent accumulation is engine-portable. */
  def q34RunningTotal(s: SparkSession, dir: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("o_custkey")
      .orderBy(col("o_orderdate"), col("o_orderkey"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)
    t(s, dir, "orders")
      .repartitionByRange(col("o_custkey")) // one exchange total (see q44)
      .select(col("o_custkey"), col("o_orderkey"),
        date_format(col("o_orderdate"), "yyyy-MM-dd").as("od"),
        sum(col("o_totalprice").cast("decimal(18,2)")).over(w)
          .cast("double").as("running_rev"))
      .sortWithinPartitions("o_custkey", "o_orderkey")
  }

  /** §2 #29 — tumbling 6-hour windows per event type (batch form of
    * the streaming windowed aggregate; epoch-aligned so engine-portable).
    * r12: a floor-divide arithmetic bucketing rewrite (no window()
    * struct) measured 1.55 vs 1.56 s at x100 — a wash; window() is
    * already integer math under codegen, so the idiomatic form stays. */
  def q35Tumbling(s: SparkSession, dir: String): DataFrame =
    Stats.tumblingStats(t(s, dir, "events"), "6 hours", "event_type")
      .sortWithinPartitions("window_start", "event_type")

  /** New-in-r6 — §2 #38: per-batch HLL sketch artifacts merged across
    * batches. The per-day sketches stand in for artifacts persisted
    * with each batch load; the merge answers a cross-batch distinct
    * count WITHOUT rescanning the source — identical estimates to a
    * direct global sketch (merge-invariance asserted in
    * AnalyticsSpec), drift vs exact counts bounded there too. Rows-only
    * at the driver gate: the sketch binary is engine-specific. */
  def q46SketchMerge(s: SparkSession, dir: String): DataFrame = {
    val artifacts = Stats.sketchArtifacts(
      t(s, dir, "events"), "event_type", "user_id")
    Stats.mergeSketches(artifacts, Seq("event_type"))
      .select(col("event_type"), col("n_events"), col("approx_distinct"))
      .sortWithinPartitions("event_type")
  }

  /** New-in-r6 — §2 #38's set-algebra half: day-over-day user
    * retention/new/churn per event type, computed ENTIRELY from
    * per-day theta-sketch artifacts (intersection + difference — the
    * algebra HLL lacks). At this scale the sketches are in exact mode,
    * so estimates equal exact counts (asserted vs count_distinct joins
    * in AnalyticsSpec); rows-only at the gate — sketch binaries are
    * engine-specific. */
  def q49Retention(s: SparkSession, dir: String): DataFrame = {
    val artifacts = Stats.thetaArtifacts(
      t(s, dir, "events"), "event_type", "user_id")
    Stats.retentionFromSketches(artifacts, "event_type")
      .withColumn("batch_date", date_format(col("batch_date"), "yyyy-MM-dd"))
      .sortWithinPartitions("event_type", "batch_date")
  }

  /** New-in-r12 — q49's PORTABLE twin (the q18→q37 discipline): the
    * SAME day-over-day retention numbers via plain per-day distinct
    * user sets + join set algebra a DuckDB oracle replays exactly —
    * |day|, |day ∩ prev-present-day|, |day \ prev|, |prev \ day|,
    * "prev" being the key's previous PRESENT day (the lag the sketch
    * path takes over its artifact rows). Theta sketches below 2^lgK
    * run in exact mode, so q49 ≡ q87 row-for-row at test scale
    * (asserted in AnalyticsSpec) — this gate upgrades the sketch
    * path's correctness story from rows-only to transitively oracled.
    * Scale posture: the distinct frame is one shuffle on (day, key,
    * user); the retained join ships only per-day distinct users. The
    * SKETCH path stays the 100 TB artifact answer (no raw-user
    * re-join across batches); this twin is its checkable shadow. */
  def q87RetentionPortable(s: SparkSession, dir: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("event_type").orderBy("batch_date")
    val du = t(s, dir, "events")
      .select(to_date(col("ts")).as("batch_date"), col("event_type"),
        col("user_id")).distinct()
    val act = du.groupBy("batch_date", "event_type")
      .agg(count(lit(1)).as("n_active"))
      .withColumn("__pd", lag(col("batch_date"), 1).over(w))
      .withColumn("__pn", lag(col("n_active"), 1).over(w))
    val retained = du
      .join(act.select(col("batch_date"), col("event_type"), col("__pd")),
        Seq("batch_date", "event_type"))
      .join(du.select(col("batch_date").as("__pd"),
          col("event_type"), col("user_id")),
        Seq("__pd", "event_type", "user_id"))
      .groupBy("batch_date", "event_type")
      .agg(count(lit(1)).as("__ret"))
    act.join(retained, Seq("batch_date", "event_type"), "left")
      .select(
        date_format(col("batch_date"), "yyyy-MM-dd").as("batch_date"),
        col("event_type"),
        col("n_active"),
        when(col("__pd").isNull, lit(null).cast("bigint"))
          .otherwise(coalesce(col("__ret"), lit(0L))).as("n_retained"),
        when(col("__pd").isNull, lit(null).cast("bigint"))
          .otherwise(col("n_active") - coalesce(col("__ret"), lit(0L)))
          .as("n_new"),
        when(col("__pd").isNull, lit(null).cast("bigint"))
          .otherwise(col("__pn") - coalesce(col("__ret"), lit(0L)))
          .as("n_churned"))
      .sortWithinPartitions("event_type", "batch_date")
  }

  /** New-in-r13 — q46's PORTABLE twin (the q49→q87 discipline): the
    * SAME cross-batch rollup computed from per-batch DISTINCT-USER
    * artifacts merged by plain set union — per (batch_date,
    * event_type) distinct users (exactly the membership a q46 HLL
    * artifact encodes) unioned across batches and counted, plus the
    * per-batch exact row counts summed, shapes a DuckDB oracle
    * replays exactly. AnalyticsSpec ties q46's estimate to this exact
    * value (merge invariance + bounded drift), so the sketch path's
    * number is transitively oracled; the HLL artifact stays the
    * 100 TB answer (KB-sized mergeable state per batch — the merge
    * never re-shuffles users, while this twin's union does). */
  def q88SketchMergePortable(s: SparkSession, dir: String): DataFrame = {
    val ev = t(s, dir, "events")
    // per-batch artifact content: the (batch, key) distinct-user sets
    val perBatch = ev.select(to_date(col("ts")).as("batch_date"),
      col("event_type"), col("user_id")).distinct()
    val counts = ev.groupBy(to_date(col("ts")).as("batch_date"),
        col("event_type"))
      .agg(count(lit(1)).as("n_events"))
    // merge: union the per-batch sets, count; sum the per-batch counts
    val dist = perBatch.select("event_type", "user_id").distinct()
      .groupBy("event_type").agg(count(lit(1)).as("n_distinct_users"))
    counts.groupBy("event_type").agg(sum(col("n_events")).as("n_events"))
      .join(dist, Seq("event_type"))
      .select(col("event_type"), col("n_events"), col("n_distinct_users"))
      .sortWithinPartitions("event_type")
  }

  /** New-in-r6 — §2 #41: exact heavy hitters (users with ≥ 80 events)
    * via the count-min pre-filter: one tree-aggregated sketch pass,
    * then only maybe-heavy rows shuffle into the exact count that
    * drops the ε·N overestimates. Output is EXACT (CMS never
    * undercounts, so recall is lossless), hence oracle-checkable as a
    * plain GROUP BY / HAVING; the pruning payoff on a skewed feed is
    * asserted separately on a Zipf corpus in HeavyHittersSpec. */
  def q51HeavyHitters(s: SparkSession, dir: String): DataFrame =
    // machinery price at x100 (r12, BASELINE.md): CMS path 1.97 s vs
    // plain groupBy-HAVING 1.08 s — +0.9 s on this BOUNDED key
    // (user_id tops out at ~1.5 M even amplified, so map-side combine
    // already wins and the sketch pass is pure overhead). The CMS
    // pays on unbounded-cardinality keys where per-key state explodes
    // (Zipf payoff in HeavyHittersSpec); the gate keeps exercising the
    // sketch path because that IS the operator under test.
    HeavyHitters.heavyHitters(t(s, dir, "events"), Seq("user_id"),
        minCount = 80L)
      .withColumnRenamed("n_rows", "n_events")
      .sortWithinPartitions("user_id")

  /** New-in-r16 — q51's BOUNDED-KEY tier ([[HeavyHitters.heavyHitters]]
    * with `maxDistinctHint`): user_id is a bounded dimension at every
    * SF, so the production-right plan is the plain map-side-combined
    * groupBy-HAVING — no sketch pass, no probe column (plan pinned in
    * HeavyHittersSpec). Same rows as q51 bit-exactly, same DuckDB
    * oracle; gating BOTH tiers keeps the r16 switch's two sides
    * exercised (the r11–r15 machinery-price decomposition's
    * resolution). */
  def q93HeavyHittersBounded(s: SparkSession, dir: String): DataFrame =
    HeavyHitters.heavyHitters(t(s, dir, "events"), Seq("user_id"),
        minCount = 80L, maxDistinctHint = Some(2000000L))
      .withColumnRenamed("n_rows", "n_events")
      .sortWithinPartitions("user_id")

  /** q53's incident window: 10 minutes, in microseconds. */
  private val Q53_WINDOW_US = 600000000L

  /** New-in-r6 — §2 #42: interval attribution with NO equi key — every
    * event falling inside any error event's 10-minute incident window,
    * rolled up per incident. The naive `ON ts BETWEEN s AND e` join is
    * a BroadcastNestedLoopJoin; [[RangeJoin.binnedIntervalJoin]] bins
    * time at the window width so it runs as a shuffled equi-join on
    * the bin id (no-BNLJ plan pinned in PlanAuditSpec). Overlapping
    * windows each get their full event set independently.
    *
    * The plan shape is the r14 adjudication at x100 (one window,
    * min-of-8 each, alternating; the two-join form's distinct-users
    * branch alone was 12.2 s of its 13.1 s, no-join floor 3.8 s):
    *   - first-occurrence — ADOPTED, 5.97 s: ONE bin join + ONE plain
    *     per-incident aggregation; COUNT DISTINCT user is a
    *     conditional count of first-in-window occurrences (prev
    *     same-user event < window start), so the (incident, user)
    *     pair-dedup exchange disappears;
    *   - two joins — the r11 form: bin join computed TWICE, (count+sum)
    *     branch ⋈ distinct-user-pairs branch — 13.1–16.4 s across that
    *     round's windows;
    *   - single join — ONE bin join feeding a two-level (incident,
    *     user) → incident aggregation: 15.8 s (the big partial hash
    *     table over the fan-out loses to everything);
    *   - broadcast — the single-join form with the exploded bin side
    *     broadcast: 16.0 s (the saved 10 M-point shuffle is cheap; the
    *     pair mass is the cost);
    *   - sweep — the zero-join [[graft.operators.Sweep]] form
    *     ([[q91SweepPortable]]): 25.2 s HERE — two full passes over
    *     ~34 M delta rows cost more than this corpus' modest ~4.6×
    *     fan-out; it is the scale path only when window density makes
    *     the fan-out explode (see Sweep's scaladoc for the crossover
    *     argument). */
  def q53RangeJoin(s: SparkSession, dir: String): DataFrame = {
    val ev = eventsUs(s, dir)
    // shuffle_hash on the interval side: the bin join's inputs are
    // modest but its OUTPUT is the ~7× stabbed mass — SHJ skips
    // sorting both inputs ahead of that fan-out (measured r11:
    // SMJ 1.06 s → SHJ 0.83 s with the Expand agg still in place)
    val incidents = ev.where(col("event_type") === "error")
      .select(col("event_id").as("incident_id"), col("ts_us").as("s_us"),
        (col("ts_us") + Q53_WINDOW_US).as("e_us"))
      .hint("shuffle_hash")
    // ONE bin join + ONE per-incident aggregation, no distinct: a
    // joined row is its user's FIRST in-window occurrence iff the
    // user's previous event time is before the window start (for
    // each user present in [s, e) exactly one event satisfies it) —
    // COUNT DISTINCT user becomes a plain conditional count with
    // map-side partials, killing the (incident, user) pair-dedup
    // exchange that dominated the two-branch form (12.2 s of 13.1
    // at x100). Costs one lag window on events (by user) up front.
    import org.apache.spark.sql.expressions.{Window => W}
    val nn = ev.where(col("user_id").isNotNull)
      .select(col("user_id"), col("value"), col("ts_us"))
      .withColumn("__prev",
        lag(col("ts_us"), 1).over(W.partitionBy("user_id").orderBy("ts_us")))
    val nl = ev.where(col("user_id").isNull)
      .select(col("user_id"), col("value"), col("ts_us"))
      .withColumn("__prev", lit(null).cast("long"))
    val pts = nn.unionByName(nl)
      .select(col("user_id").isNotNull.as("__hasu"), col("__prev"),
        col("value"), col("ts_us"))
    val joined = RangeJoin.binnedIntervalJoin(pts, "ts_us", incidents,
      "s_us", "e_us", binUs = Q53_WINDOW_US)
    joined.groupBy("incident_id")
      .agg(count(lit(1)).as("n_events"),
        sum(when(col("__hasu") &&
          (col("__prev").isNull || col("__prev") < col("s_us")), 1L)
          .otherwise(0L)).as("n_users"),
        sum(col("value").cast("decimal(18,2)")).cast("double")
          .as("total_value"))
      .select(col("incident_id"), col("n_events"), col("n_users"),
        col("total_value"))
      .sortWithinPartitions("incident_id")
  }

  /** The [[graft.operators.Sweep]] operator's own oracled gate: q53's
    * semantics through the ZERO-JOIN sweep path — every window is the
    * same length, so counts / sums / distinct-user counts are prefix
    * sums of per-event delta rows evaluated at each incident start,
    * linear in events + incidents with no pair fan-out at any error
    * density. Row-for-row equal to [[q53RangeJoin]] (SweepSpec)
    * and checked against q53's DuckDB oracle. `_portable` suffix =
    * correctness artifact, Bench skips it (the sweep is the
    * high-density scale path, documented slower on THIS corpus' ~4.6×
    * fan-out). */
  def q91SweepPortable(s: SparkSession, dir: String): DataFrame = {
    val ev = eventsUs(s, dir)
    graft.operators.Sweep.fixedWindowStats(
        ev, "ts_us", "user_id", "value",
        ev.where(col("event_type") === "error")
          .select(col("event_id").as("incident_id"),
            col("ts_us").as("s_us")),
        "incident_id", "s_us", Q53_WINDOW_US)
      .select(col("incident_id"), col("n_events"), col("n_users"),
        col("total_value").cast("double").as("total_value"))
      .sortWithinPartitions("incident_id")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q53_range_join" -> (q53RangeJoin _),
    "q91_sweep_portable" -> (q91SweepPortable _),
    "q51_heavy_hitters" -> (q51HeavyHitters _),
    "q93_heavy_hitters_bounded" -> (q93HeavyHittersBounded _),
    "q35_tumbling" -> (q35Tumbling _),
    "q46_sketch_merge" -> (q46SketchMerge _),
    "q49_retention" -> (q49Retention _),
    "q34_running_total" -> (q34RunningTotal _),
    "q27_sessionize" -> (q27Sessionize _),
    "q28_asof_join" -> (q28AsofJoin _),
    "q29_topn_per_group" -> (q29TopnPerGroup _),
    "q30_rollup" -> (q30Rollup _),
    "q31_pivot" -> (q31Pivot _),
    "q32_percentile" -> (q32Percentile _),
    "q87_retention_portable" -> (q87RetentionPortable _),
    "q88_sketch_merge_portable" -> (q88SketchMergePortable _)
  )

  val oracleSql: Map[String, String] = Map(
    "q88_sketch_merge_portable" ->
      """WITH perday AS (SELECT DISTINCT CAST(ts AS DATE) AS d, event_type, user_id FROM events),
        |cnts AS (SELECT CAST(ts AS DATE) AS d, event_type, CAST(count(*) AS BIGINT) AS n FROM events GROUP BY 1, 2)
        |SELECT c.event_type,
        |  CAST(sum(c.n) AS BIGINT) AS n_events,
        |  (SELECT CAST(count(DISTINCT user_id) AS BIGINT) FROM perday p
        |     WHERE p.event_type = c.event_type) AS n_distinct_users
        |FROM cnts c GROUP BY c.event_type ORDER BY c.event_type""".stripMargin,
    "q87_retention_portable" ->
      """WITH du AS (SELECT DISTINCT CAST(ts AS DATE) AS d, event_type, user_id FROM events),
        |act AS (SELECT d, event_type, CAST(count(*) AS BIGINT) AS n_active FROM du GROUP BY 1, 2),
        |act2 AS (SELECT *, lag(d) OVER (PARTITION BY event_type ORDER BY d) AS pd,
        |                lag(n_active) OVER (PARTITION BY event_type ORDER BY d) AS pn FROM act),
        |ret AS (SELECT a.d, a.event_type, CAST(count(*) AS BIGINT) AS n_ret
        |        FROM du a JOIN act2 x ON a.d = x.d AND a.event_type = x.event_type
        |        JOIN du b ON b.event_type = a.event_type AND b.d = x.pd AND b.user_id = a.user_id
        |        GROUP BY 1, 2)
        |SELECT strftime(act2.d, '%Y-%m-%d') AS batch_date, act2.event_type, act2.n_active,
        |  CASE WHEN act2.pd IS NULL THEN NULL ELSE coalesce(ret.n_ret, 0) END AS n_retained,
        |  CASE WHEN act2.pd IS NULL THEN NULL ELSE act2.n_active - coalesce(ret.n_ret, 0) END AS n_new,
        |  CASE WHEN act2.pd IS NULL THEN NULL ELSE act2.pn - coalesce(ret.n_ret, 0) END AS n_churned
        |FROM act2 LEFT JOIN ret ON act2.d = ret.d AND act2.event_type = ret.event_type
        |ORDER BY act2.event_type, batch_date""".stripMargin,
    "q27_sessionize" ->
      """WITH e AS (SELECT user_id, event_id, value, ts, epoch_us(ts) AS us FROM events),
        |m AS (SELECT *, CASE WHEN us - lag(us) OVER (PARTITION BY user_id ORDER BY us, event_id) <= 1800000000
        |                     THEN 0 ELSE 1 END AS new_sess FROM e),
        |s AS (SELECT *, sum(new_sess) OVER (PARTITION BY user_id ORDER BY us, event_id ROWS UNBOUNDED PRECEDING) AS session_id FROM m)
        |SELECT user_id, CAST(session_id AS BIGINT) AS session_id,
        |  CAST(count(*) AS BIGINT) AS n_events,
        |  strftime(min(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
        |  strftime(max(ts), '%Y-%m-%d %H:%M:%S') AS session_end,
        |  (max(us) - min(us)) // 1000000 AS duration_sec,
        |  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
        |FROM s GROUP BY user_id, session_id ORDER BY user_id, session_id""".stripMargin,

    "q28_asof_join" ->
      """WITH p AS (SELECT event_id, user_id, epoch_us(ts) AS us FROM events WHERE event_type = 'purchase'),
        |v AS (SELECT user_id, epoch_us(ts) AS us, max(event_id) AS view_event_id
        |      FROM events WHERE event_type = 'view' GROUP BY 1, 2)
        |SELECT p.event_id, p.user_id,
        |  strftime(make_timestamp(p.us), '%Y-%m-%d %H:%M:%S') AS purchase_ts,
        |  v.view_event_id, (p.us - v.us) // 1000000 AS gap_sec
        |FROM p ASOF LEFT JOIN v ON p.user_id = v.user_id AND v.us <= p.us
        |ORDER BY p.event_id""".stripMargin,

    "q29_topn_per_group" ->
      """WITH rev AS (SELECT o_custkey, sum(CAST(o_totalprice AS DECIMAL(18,2))) AS rev_d FROM orders GROUP BY 1),
        |j AS (SELECT n_name, c_custkey, rev_d FROM rev
        |      JOIN customer ON o_custkey = c_custkey
        |      JOIN nation ON c_nationkey = n_nationkey),
        |r AS (SELECT *, row_number() OVER (PARTITION BY n_name ORDER BY rev_d DESC, c_custkey) AS rnk FROM j)
        |SELECT n_name, CAST(rnk AS BIGINT) AS rnk, c_custkey, CAST(rev_d AS DOUBLE) AS revenue
        |FROM r WHERE rnk <= 3 ORDER BY n_name, rnk""".stripMargin,

    "q30_rollup" ->
      """SELECT o_orderpriority, o_orderstatus, CAST(count(*) AS BIGINT) AS n_orders,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
        |FROM orders GROUP BY ROLLUP(o_orderpriority, o_orderstatus)
        |ORDER BY o_orderpriority NULLS FIRST, o_orderstatus NULLS FIRST""".stripMargin,

    "q31_pivot" ->
      """SELECT strftime(ts, '%Y-%m-%d') AS d,
        |  CAST(sum(CASE WHEN event_type = 'click' THEN CAST(value AS DECIMAL(18,2)) END) AS DOUBLE) AS click,
        |  CAST(sum(CASE WHEN event_type = 'error' THEN CAST(value AS DECIMAL(18,2)) END) AS DOUBLE) AS error,
        |  CAST(sum(CASE WHEN event_type = 'purchase' THEN CAST(value AS DECIMAL(18,2)) END) AS DOUBLE) AS purchase,
        |  CAST(sum(CASE WHEN event_type = 'signup' THEN CAST(value AS DECIMAL(18,2)) END) AS DOUBLE) AS signup,
        |  CAST(sum(CASE WHEN event_type = 'view' THEN CAST(value AS DECIMAL(18,2)) END) AS DOUBLE) AS view
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin,

    "q32_percentile" ->
      """SELECT event_type,
        |  round(quantile_cont(value, 0.5), 6) AS p50,
        |  round(quantile_cont(value, 0.95), 6) AS p95,
        |  round(quantile_cont(value, 0.99), 6) AS p99
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,

    "q34_running_total" ->
      """SELECT o_custkey, o_orderkey, strftime(o_orderdate, '%Y-%m-%d') AS od,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2)))
        |    OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
        |          ROWS UNBOUNDED PRECEDING) AS DOUBLE) AS running_rev
        |FROM orders ORDER BY o_custkey, o_orderkey""".stripMargin,

    "q35_tumbling" ->
      """SELECT strftime(time_bucket(INTERVAL '6 hours', ts), '%Y-%m-%d %H:%M:%S') AS window_start,
        |  event_type, CAST(count(*) AS BIGINT) AS n_events,
        |  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
        |FROM events GROUP BY 1, 2 ORDER BY window_start, event_type""".stripMargin,

    "q51_heavy_hitters" ->
      """SELECT user_id, CAST(count(*) AS BIGINT) AS n_events
        |FROM events GROUP BY user_id HAVING count(*) >= 80
        |ORDER BY user_id""".stripMargin,

    "q93_heavy_hitters_bounded" ->
      """SELECT user_id, CAST(count(*) AS BIGINT) AS n_events
        |FROM events GROUP BY user_id HAVING count(*) >= 80
        |ORDER BY user_id""".stripMargin,

    "q53_range_join" ->
      """WITH e AS (SELECT event_id, user_id, value, event_type, epoch_us(ts) AS us FROM events),
        |inc AS (SELECT event_id AS incident_id, us AS s_us, us + 600000000 AS e_us
        |        FROM e WHERE event_type = 'error')
        |SELECT incident_id, CAST(count(*) AS BIGINT) AS n_events,
        |  CAST(count(DISTINCT user_id) AS BIGINT) AS n_users,
        |  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
        |FROM inc JOIN e ON e.us >= s_us AND e.us < e_us
        |GROUP BY incident_id ORDER BY incident_id""".stripMargin,
    // the sweep path must reproduce the identical relational answer —
    // same oracle as q53 (one caveat: the sweep emits ALL incidents,
    // but every incident window contains its own error event, so the
    // inner-join row set is identical by construction)
    "q91_sweep_portable" ->
      """WITH e AS (SELECT event_id, user_id, value, event_type, epoch_us(ts) AS us FROM events),
        |inc AS (SELECT event_id AS incident_id, us AS s_us, us + 600000000 AS e_us
        |        FROM e WHERE event_type = 'error')
        |SELECT incident_id, CAST(count(*) AS BIGINT) AS n_events,
        |  CAST(count(DISTINCT user_id) AS BIGINT) AS n_users,
        |  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
        |FROM inc JOIN e ON e.us >= s_us AND e.us < e_us
        |GROUP BY incident_id ORDER BY incident_id""".stripMargin
  )
}
