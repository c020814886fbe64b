package graft.queries

import org.apache.spark.sql.{DataFrame, ExpressionColumn, SparkSession}
import org.apache.spark.sql.ExpressionColumn.expression
import org.apache.spark.sql.catalyst.expressions.Literal
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.Tables
import graft.functions.{EtlMeta, SafeCasts}
import graft.operators._
import graft.plans.{JsonLongExpr, JsonScanExpr}
import graft.sources.ParquetSink

/** Driver-checked query set covering SURVEY.md §2 rows 1–16 (the
  * reference's ETL operator surface re-expressed on the test star
  * schema). Every query is deterministic as a row SET (decimal-exact
  * aggregation, timestamps formatted to seconds) so the DuckDB oracle
  * hash-matches bit-for-bit — the gate sorts rows before hashing, so
  * since r16 output order is only partition-local
  * (sortWithinPartitions; the global orderBy each query used to end
  * with cost a range-sampling job + an exchange per query and was
  * semantically cosmetic — OPTIMIZATION_r16.md change 1).
  */
object EcommerceQueries {
  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    Tables.load(s, dir, name)

  /** Above this fact size q10 switches to the co-bucketed layout;
    * below it the single-exchange repartition form wins (the layout
    * write + 8-task bucketed read cost more than the one floor-sized
    * exchange they replace). Measured r12 on local[32], min-of-8,
    * repart/bucketed: x10 1.88 / 0.86 s, x30 3.94 / 2.10 s, x100
    * 9.97 / 5.84 s — bucketed wins at every amplified tier; sf0.1
    * keeps the repart form (0.96 s, floor-bound per the r11 twin).
    * On a different machine the EDGE moves with per-core throughput ×
    * parallelism, but the shape — write-time co-location beats any
    * per-query exchange once the fact outgrows the job floor — is
    * structural (BASELINE.md round-12). */
  private[graft] val Q10_BUCKETED_MIN_ROWS = 2000000L

  /** Bucketed-layout sizing: target ~this many fact rows per bucket,
    * stepping the bucket count in core-multiple tiers (8 / cores /
    * 2×cores). Measured on local[32]: 8 flat at sf0.1, 32 best at
    * x30 (1.19 vs 2.87 s for 8), 64 best at x100 (3.42 vs 4.43 s for
    * 32). The bucketed read schedules ONE task per bucket, so the
    * count must be ≥ available cores once the data outgrows the
    * floor; on a cluster derive the same tiers from executor-core
    * totals instead of this machine's 32. */
  private[graft] val BUCKET_TARGET_ROWS = 1000000L

  /** §2 #1/#15 — per-table row counts (query/đếm số dòng mỗi bảng.sql). */
  def q01Rowcounts(s: SparkSession, dir: String): DataFrame =
    Stats.rowCounts(s, dir)

  /** §2 #9 — PK dedup keep-last (shopee_orders_loader.py:283-340).
    * event_id is the ingestion sequence → pandas keep="last" ≡ max
    * event_id per (user_id, event_type). */
  def q02DedupKeepLast(s: SparkSession, dir: String): DataFrame = {
    // NOT range-partitioned like q44/q27/q34 (r10): keepLast collapses
    // the output to ~distinct keys, so the trailing orderBy exchange is
    // nearly free and a range-partitioned INPUT would just move the
    // sampling cost to the full feed — measured a wash-to-slightly-worse
    val ev = t(s, dir, "events")
    Dedup.keepLast(ev, Seq("user_id", "event_type"), Seq(col("event_id")))
      .select(col("user_id"), col("event_type"),
        col("event_id").as("last_event_id"), col("value").as("last_value"))
      .sortWithinPartitions("user_id", "event_type")
  }

  /** §2 #2/#3 — nested-JSON props → typed child columns
    * (shopee_orders_transformer.py:145-365). Explicit schema; no
    * inference scan. */
  def q03NormalizeProps(s: SparkSession, dir: String): DataFrame = {
    // json_long's flat-object byte scan replaces the per-row Jackson
    // parse of from_json(props, struct<k: bigint>) (exact from_json
    // fallback inside the kernel for any non-clean row). The predicate
    // duplicating the expression into the Filter is then harmless —
    // the r9 profile showed the Jackson parse itself (run 2× per
    // surviving row + again in the range-sort sampling pass) was the
    // 10.6× gap, not the plan shape.
    t(s, dir, "events")
      .select(col("event_id"), col("event_type"),
        ExpressionColumn(JsonLongExpr(expression(col("props")), Literal("k")))
          .as("prop_k"))
      .where(col("prop_k").isNotNull)
      .sortWithinPartitions("event_id")
  }

  /** §2 #4 — array explode → child rows
    * (shopee_orders_transformer.py:245-365). */
  def q04ExplodeTokens(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "part")
      .select(explode(split(col("p_name"), " ")).as("word"))
      .groupBy("word").agg(count(lit(1)).as("n"))
      .sortWithinPartitions(desc("n"), col("word"))

  /** §2 #5 — order×item flatten with prefixes + multiplicity flags
    * (misa_crm_transformer.py:206-338). The join and the multiplicity
    * window share one key, so above the bucketed tier the co-bucketed
    * layout elides BOTH exchanges and the SMJ/window sorts (r13 x100:
    * plain 10.66 s → bucketed 6.82, vs DuckDB 53.7 — 0.13×). */
  def q05FlattenPrefix(s: SparkSession, dir: String): DataFrame = {
    val liRows = graft.sources.ParquetMeta.rowCount(
      s, s"$dir/lineitem.parquet")
    if (liRows > Q10_BUCKETED_MIN_ROWS) return q05BucketedForm(s, dir)
    q05Select(Flatten.prefixFlatten(
      t(s, dir, "orders").select("o_orderkey", "o_orderstatus"),
      t(s, dir, "lineitem").select("l_orderkey", "l_linenumber", "l_quantity"),
      "o_orderkey", "l_orderkey"))
  }

  private def q05Select(flat: DataFrame): DataFrame =
    flat.select(
        col("order_o_orderkey").as("order_key"),
        col("order_o_orderstatus").as("order_status"),
        col("item_l_linenumber").as("item_linenumber"),
        col("item_l_quantity").as("item_quantity"),
        col("total_items_in_order"), col("has_multiple_items"))
      .sortWithinPartitions("order_key", "item_linenumber")

  /** q05's bucketed tier (the q10BucketedForm discipline): both scans
    * come pre-clustered and pre-sorted on the order key, so the
    * flatten's join and window run with zero exchanges below the
    * trailing sort. */
  private[graft] def q05BucketedForm(s: SparkSession, dir: String): DataFrame = {
    val (oT, lT) = bucketedTables(s, dir)
    q05Select(Flatten.prefixFlatten(
      s.table(oT).select("o_orderkey", "o_orderstatus").hint("merge"),
      s.table(lT).select("l_orderkey", "l_linenumber", "l_quantity"),
      "o_orderkey", "l_orderkey"))
  }

  /** §2 #6 — safe typed casts, null-on-error
    * (shopee_orders_transformer.py:45-86). */
  def q06SafeCasts(s: SparkSession, dir: String): DataFrame = {
    val p = t(s, dir, "part")
    val boolStr = when(col("p_size") % 4 === 0, lit("TRUE"))
      .when(col("p_size") % 4 === 1, lit("yes"))
      .when(col("p_size") % 4 === 2, lit("off"))
      .otherwise(lit("1"))
    p.select(
        col("p_partkey"),
        SafeCasts.safeIntStr(col("p_brand")).as("brand_as_int"),
        SafeCasts.safeIntStr(regexp_extract(col("p_brand"), "([0-9]+)", 1))
          .as("brand_num"),
        SafeCasts.safeFloatStr(col("p_type")).as("type_as_float"),
        SafeCasts.safeBool(boolStr).as("flag"),
        SafeCasts.safeString(col("p_name"), 12).as("name_trunc"))
      .sortWithinPartitions("p_partkey")
  }

  /** §2 #7 — unix seconds/millis → UTC timestamp, 0 → null
    * (shopee_orders_transformer.py:36-43). */
  def q07UnixTs(s: SparkSession, dir: String): DataFrame = {
    val o = t(s, dir, "orders")
    val sec = when(col("o_orderkey") % 10 === 0, lit(0L))
      .otherwise(col("o_orderkey") * 7919L)
    o.select(
        col("o_orderkey"),
        date_format(SafeCasts.unixSecondsToTs(sec), "yyyy-MM-dd HH:mm:ss")
          .as("ts_from_sec"),
        date_format(SafeCasts.unixMillisToTs(sec * 1000L), "yyyy-MM-dd HH:mm:ss")
          .as("ts_from_ms"))
      .sortWithinPartitions("o_orderkey")
  }

  /** §2 #8 — ETL metadata columns (shopee_orders_transformer.py:88-95),
    * injectable timestamp for reproducibility. */
  def q08EtlMetadata(s: SparkSession, dir: String): DataFrame = {
    val withMeta = EtlMeta.withEtlMetadata(
      t(s, dir, "nation"), "batch-0001", "graft_engine",
      Some(java.sql.Timestamp.valueOf("2024-01-01 00:00:00")))
    withMeta.select(col("n_nationkey"), col("n_name"),
        col("etl_batch_id"),
        date_format(col("etl_created_at"), "yyyy-MM-dd HH:mm:ss")
          .as("etl_created"),
        col("etl_source"))
      .sortWithinPartitions("n_nationkey")
  }

  /** §2 #13 — incremental window filter pushed to the scan, then rollup
    * (incremental_etl_dag.py:59-84). */
  def q09IncrementalAgg(s: SparkSession, dir: String): DataFrame =
    // the filter sits on the PHYSICAL `ts` column (r8: events.ts is
    // parquet micros now, ts_ns the derived one) so it reaches
    // PushedFilters — pinned by the golden plan
    Incremental.windowFilter(t(s, dir, "events"), "ts",
        "2024-01-20 00:00:00")
      .groupBy("event_type")
      .agg(count(lit(1)).as("n_events"),
        sum(col("value").cast("decimal(18,2)")).cast("double").as("total_value"))
      .sortWithinPartitions("event_type")

  /** Star-schema rollup: revenue by region × returnflag; dims broadcast
    * (VERDICT r1 item 6: ≤2 shuffles — lineitem⋈orders shuffle + final
    * group-by; customer/nation/region ride broadcasts). */
  def q10StarJoin(s: SparkSession, dir: String): DataFrame = {
    val li = t(s, dir, "lineitem")
    val o = t(s, dir, "orders")
    val c = broadcast(t(s, dir, "customer"))
    val n = broadcast(t(s, dir, "nation"))
    val r = broadcast(t(s, dir, "region"))
    // pre-aggregate the fact BEFORE the fact⋈fact join (r9): revenue
    // partial-sums map-side onto (orderkey, flag), so the join and
    // everything after it see ~one row per order-flag instead of one
    // per lineitem — and the distinct-count collapses to a plain
    // count, deleting the Expand/double-shuffle plan the mixed
    // sum+count_distinct otherwise costs. At 100 TB this is the
    // difference between shuffling the lineitem fact once NARROW
    // (3 columns, combined) and shuffling it wide into the join.
    // r10: a shuffle_hash hint on the fact⋈fact join (the q65 trick)
    // was measured 1.35 s → 1.46 s and REJECTED — both sides here are
    // fact-sized, so the hash build costs more than the two sorts it
    // saves; SMJ stays.
    // r11 floor twin (BASELINE.md): the same two scans + the fact
    // partial-agg exchange + the orders shuffle + final agg/sort with
    // NO join at all measured 94-101 % of the full query — the SMJ
    // merge and the three broadcasts are inside the noise, so the
    // plan is adjudicated floor-bound; further join tuning has no
    // headroom at this sf.
    // r11 x10-tier re-derivation (the one >1 s survivor): FIVE
    // alternatives measured on the amplified corpus, ALL rejected —
    // raw-fact repartition(orderkey) before the agg (1.98 vs 1.67 s:
    // moves full-width rows where the agg exchange moves partials),
    // shuffle_hash orders join (1.89), both combined (1.62, window
    // noise), broadcast 2-col orders + post-join (r,flag,orderkey)
    // agg (2.21: the 1.5 M-row broadcast build plus an orderkey-
    // granular hash agg over 15 M joined rows cost more than the
    // pre-shrunk exchange), and its count_distinct/Expand form
    // (2.27). The pre-agg plan is the measured optimum at both of
    // those tiers.
    // r11 x100 re-re-derivation: the x10 verdict was the MIDDLE of a
    // non-monotonic curve — repartition(l_orderkey) FIRST (one raw
    // exchange serving both the agg's clustering and the SMJ) beat
    // the pre-agg form below AND above a (2 M, 10 M] band (sf0.1
    // 0.96 vs 1.50; x30 2.99 vs 3.61; x100 9.34 vs 13.30; broadcast
    // forms 25.8/27.8 at x100 — broadcasting a fact never pays).
    // r12 superseded the whole exchange-paying family above 2 M rows
    // with the co-bucketed tier below, so only the floor-tier repart
    // form remains here.
    // r12: above the band, the CO-BUCKETED layout (q41's machinery,
    // extended with q10's columns) replaces the repartition form — the
    // bucket partitioning satisfies the agg's clustering AND the join's
    // distribution, so BOTH fact exchanges disappear; what remains is
    // the per-bucket hash agg + a sort of the agg output into the SMJ.
    // Measured x100 min-of-8: repart 9.97 s → bucketed 5.84 s (SHJ
    // 6.08, join-first-no-agg 7.18 — the raw 64 M-row merge costs more
    // than the agg-first sort it saves). Like q41, the layout is a
    // once-per-corpus write-time artifact — at 100 TB this is the
    // daily-join layout, not a per-query cost.
    // Residual adjudicated (r12, same-window): the 16 M-group liAgg is
    // 3.50 s of the query's 5.42; DuckDB running the IDENTICAL agg
    // consumed in-engine takes 2.35 s — a 1.5× agg-throughput
    // constant, join/broadcast remainder at parity. Plan-shape work is
    // complete; the ratio left is engine-constant, not structure.
    val liRows = graft.sources.ParquetMeta.rowCount(
      s, s"$dir/lineitem.parquet")
    if (liRows > Q10_BUCKETED_MIN_ROWS) return q10BucketedForm(s, dir)
    val liAgg = li.repartition(col("l_orderkey"))
      .groupBy(col("l_orderkey"), col("l_returnflag"))
      .agg(sum((col("l_extendedprice") * (lit(1.0) - col("l_discount")))
        .cast("decimal(18,4)")).as("rev"))
    liAgg.join(o, col("l_orderkey") === col("o_orderkey"))
      .join(c, col("o_custkey") === col("c_custkey"))
      .join(n, col("c_nationkey") === col("n_nationkey"))
      .join(r, col("n_regionkey") === col("r_regionkey"))
      .groupBy(col("r_name"), col("l_returnflag"))
      .agg(
        sum(col("rev")).cast("double").as("revenue"),
        // (orderkey, flag) is liAgg's grain: per (region, flag) group
        // each distinct order contributes exactly one row
        count(lit(1)).as("n_orders"))
      .sortWithinPartitions("r_name", "l_returnflag")
  }

  /** Once-per-corpus co-bucketed layout for the fact⋈fact join:
    * orders and lineitem hash-clustered into the same bucket spec on
    * the order key (ParquetSink.writeBucketedTable). Like the
    * pretrained IVF quantizer, a WRITE-TIME artifact — the join's
    * shuffle is paid once here, not per query; at 100 TB this is the
    * daily-join layout (SURVEY §8). Returns (ordersTable,
    * lineitemTable) catalog names.
    *
    * Bucket count self-sizes on the fact table's footer row count
    * (the q45/q32 metadata pattern): the bucketed read schedules ONE
    * task per bucket, so an undersized spec caps the join's
    * parallelism — 8 buckets on the 18 M-row x30 corpus used 8 of 32
    * cores (2.87 s); 32 buckets + the one-file-per-bucket write read
    * sorted and land at 1.19 s. Small corpora keep 8 (more buckets
    * than data just adds file overhead; sf0.1's 600 k rows measured
    * flat 8 vs 32). On a real cluster the same rule scales the count
    * to the executor-core total / target file size. */
  private val bucketedCache =
    new java.util.concurrent.ConcurrentHashMap[String, (String, String)]()
  private def bucketedTables(s: SparkSession, dir: String): (String, String) = {
    // keyed on (dir, footer row count) so a corpus REGENERATED at a
    // different scale under the same path rebuilds the layout instead
    // of silently reusing a mis-sized (and stale-contented) one
    val liRows = graft.sources.ParquetMeta.rowCount(
      s, s"$dir/lineitem.parquet")
    bucketedCache.computeIfAbsent(s"$dir@$liRows", _ => {
      val tag = java.lang.Integer.toHexString(dir.hashCode) +
        java.lang.Long.toHexString(liRows)
      val oT = s"graft_bkt_orders_$tag"
      val lT = s"graft_bkt_lineitem_$tag"
      // clear EVERY layout for this dir (any prior row-count tag, plus
      // managed dirs a previous JVM left without catalog entries) — a
      // corpus regenerated at a different scale under the same path
      // must not leak the old tag's tables/dirs across regenerations
      val dirHex = java.lang.Integer.toHexString(dir.hashCode)
      val wh = new org.apache.hadoop.fs.Path(
        s.conf.get("spark.sql.warehouse.dir").stripPrefix("file:"))
      val fs = wh.getFileSystem(s.sparkContext.hadoopConfiguration)
      Seq("orders", "lineitem").foreach { base =>
        val prefix = s"graft_bkt_${base}_$dirHex"
        s.catalog.listTables().collect().map(_.name)
          .filter(_.startsWith(prefix))
          .foreach(n => s.sql(s"DROP TABLE IF EXISTS $n"))
        Option(fs.globStatus(new org.apache.hadoop.fs.Path(wh, prefix + "*")))
          .toSeq.flatten.foreach(st => fs.delete(st.getPath, true))
      }
      // ~BUCKET_TARGET_ROWS rows/bucket, rounded up to a multiple of
      // the available parallelism (a bucketed read is one task per
      // bucket); tiny corpora keep 8 (more buckets than data is pure
      // file overhead — sf0.1 measured flat 8 vs 32). Reproduces the
      // measured 8/32/64 tiers at sf0.1/x10–x30/x100 on local[32].
      val cores = s.sparkContext.defaultParallelism.toLong.max(1L)
      val nBuckets =
        if (liRows <= 2L * BUCKET_TARGET_ROWS) 8
        else {
          val want = (liRows + BUCKET_TARGET_ROWS - 1) / BUCKET_TARGET_ROWS
          (((want + cores - 1) / cores) * cores).toInt
        }
      // columns cover ALL bucketed-layout consumers (q41's rollup,
      // q10's star join, and r13's q05 flatten); each query's scan
      // prunes to its own subset, so the wider layout costs only file
      // bytes
      ParquetSink.writeBucketedTable(
        t(s, dir, "orders").select("o_orderkey", "o_orderpriority",
          "o_custkey", "o_orderstatus"),
        oT, "o_orderkey", nBuckets)
      ParquetSink.writeBucketedTable(
        t(s, dir, "lineitem").select(
          "l_orderkey", "l_returnflag", "l_extendedprice", "l_discount",
          "l_linenumber", "l_quantity"),
        lT, "l_orderkey", nBuckets)
      (oT, lT)
    })
  }

  /** q10's bucketed tier as its own entry so the plan (zero exchanges
    * below the fact⋈fact SMJ, agg clustering satisfied by the bucket
    * partitioning) and result-equality vs the repartition form are
    * spec-checkable at any corpus size (PlanAuditSpec). */
  private[graft] def q10BucketedForm(s: SparkSession, dir: String): DataFrame = {
    val (oT, lT) = bucketedTables(s, dir)
    val liAgg = s.table(lT)
      .groupBy(col("l_orderkey"), col("l_returnflag"))
      .agg(sum((col("l_extendedprice") * (lit(1.0) - col("l_discount")))
        .cast("decimal(18,4)")).as("rev"))
    liAgg.hint("merge")
      .join(s.table(oT), col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(t(s, dir, "customer")), col("o_custkey") === col("c_custkey"))
      .join(broadcast(t(s, dir, "nation")), col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(t(s, dir, "region")), col("n_regionkey") === col("r_regionkey"))
      .groupBy(col("r_name"), col("l_returnflag"))
      .agg(
        sum(col("rev")).cast("double").as("revenue"),
        count(lit(1)).as("n_orders"))
      .sortWithinPartitions("r_name", "l_returnflag")
  }

  /** New-in-r5 — the co-located join the bucketed layout buys: both
    * sides read pre-clustered on the join key, so the merge hint
    * plans a SortMergeJoin with ZERO exchanges below it (asserted in
    * PlanAuditSpec) — the only shuffles left are the aggregate and
    * the output sort. Same result as joining the flat parquet; the
    * layout is the optimization. */
  def q41ColocatedJoin(s: SparkSession, dir: String): DataFrame = {
    val (oT, lT) = bucketedTables(s, dir)
    s.table(lT).hint("merge")
      .join(s.table(oT), col("l_orderkey") === col("o_orderkey"))
      .groupBy("o_orderpriority")
      .agg(
        count(lit(1)).as("n_items"),
        sum((col("l_extendedprice") * (lit(1.0) - col("l_discount")))
          .cast("decimal(18,4)")).cast("double").as("revenue"))
      .sortWithinPartitions("o_orderpriority")
  }

  /** §2 #10 — incremental upsert / MERGE on business key
    * (misa_crm_loader.py:215-500). */
  def q11Upsert(s: SparkSession, dir: String): DataFrame = {
    val o = t(s, dir, "orders").select("o_orderkey", "o_orderstatus", "o_totalprice")
    val base = o.where(col("o_orderkey") % 3 =!= 0)
    val updates = o.where(col("o_orderkey") % 2 === 0)
      .withColumn("o_orderstatus", lit("U"))
      .withColumn("o_totalprice", col("o_totalprice") * 2)
    // upsertOrdered: the one window exchange is range-partitioned, so
    // the key-sorted gate output needs no second exchange (see q44)
    Incremental.upsertOrdered(base, updates, Seq("o_orderkey"))
      .sortWithinPartitions("o_orderkey")
  }

  /** §2 #11 — delete-by-key then insert (misa_crm_loader.py:847-880). */
  def q12DeleteInsert(s: SparkSession, dir: String): DataFrame = {
    val c = t(s, dir, "customer").select("c_custkey", "c_mktsegment", "c_acctbal")
    val delta = c.where(col("c_custkey") % 10 === 0)
      .withColumn("c_mktsegment", lit("REFRESH"))
      .withColumn("c_acctbal", lit(0.0))
    Incremental.deleteInsert(c, delta, Seq("c_custkey"))
      .sortWithinPartitions("c_custkey")
  }

  /** §2 #12 — full-load replace, FK-safe cascade order
    * (shopee_orders_loader.py:162-211): children cleared before parents. */
  def q13CascadeOrder(s: SparkSession, dir: String): DataFrame = {
    val tables = Map(
      "orders" -> t(s, dir, "orders"),
      "lineitem" -> t(s, dir, "lineitem"))
    val clearOrder = Incremental
      .fullLoadReplace(tables, fkOrder = Seq("orders", "lineitem"))
      .map(_._1).reverse // write order parents-first → clear order children-first
    clearOrder.zipWithIndex.map { case (name, i) =>
      tables(name).agg(count(lit(1)).as("n_rows"))
        .select(lit(i + 1).as("del_order"), lit(name).as("table_name"),
          col("n_rows"))
    }.reduce(_ unionByName _).sortWithinPartitions("del_order")
  }

  /** §2 #14 — schema projection / column-intersect
    * (misa_crm_loader.py:123,274): target has a column the source lacks
    * and drops source columns the target lacks. */
  def q14SchemaProject(s: SparkSession, dir: String): DataFrame = {
    val projected = Incremental.schemaProject(
      t(s, dir, "orders"),
      targetCols = Seq("o_orderkey", "o_orderdate", "o_totalprice",
        "column_only_in_target"))
    projected.select(col("o_orderkey"),
        date_format(col("o_orderdate"), "yyyy-MM-dd").as("o_orderdate"),
        col("o_totalprice"))
      .sortWithinPartitions("o_orderkey")
  }

  /** §2 #15 — per-batch stats (misa_crm_loader.py:1125). */
  def q15BatchStats(s: SparkSession, dir: String): DataFrame =
    Stats.batchStats(t(s, dir, "events"))
      .withColumn("batch_date", date_format(col("batch_date"), "yyyy-MM-dd"))

  /** §2 #16 — batch-run audit log (sql/00_master_setup.sql:65-95). */
  def q16AuditLog(s: SparkSession, dir: String): DataFrame =
    Stats.auditLog(t(s, dir, "events"))

  /** §2 #27 — corrupt-record quarantine: a synthetic 1-in-7 corruption
    * of the JSON feed is routed to a dead-letter count instead of
    * failing the job (the reference catches per-order parse errors and
    * continues; here the split is declarative and row-local). */
  def q33Quarantine(s: SparkSession, dir: String): DataFrame = {
    val corrupted = t(s, dir, "events").withColumn("props",
      when(col("event_id") % 7 === 0, translate(col("props"), "{", "<"))
        .otherwise(col("props")))
    // json_scan fuses parse + quarantine flag in one fast-path byte
    // scan (exact PERMISSIVE from_json fallback inside the kernel —
    // Normalize.parseJsonWithQuarantine's semantics); null props
    // coalesce to not-quarantined, matching from_json(null) → null
    // struct → corrupt-col isNotNull = false
    corrupted
      .withColumn("__p",
        ExpressionColumn(JsonScanExpr(expression(col("props")), Literal("k"))))
      .withColumn("is_quarantined", coalesce(col("__p.corrupt"), lit(false)))
      .withColumn("parsed", struct(col("__p.val").as("k")))
      .groupBy("event_type")
      .agg(
        count(when(!col("is_quarantined"), 1)).as("n_valid"),
        count(when(col("is_quarantined"), 1)).as("n_quarantined"),
        sum(when(!col("is_quarantined"), col("parsed.k"))).as("sum_k"))
      .sortWithinPartitions("event_type")
  }

  /** New-in-r6 — §2 #36: SCD Type-2 dimension history (the
    * history-preserving twin of the reference's MERGE): per-user
    * event_type versions with validity ranges, built in ONE
    * exchange+sort on the key (all four windows share the
    * partitioning). Validity bounds are integer epoch-micros — DuckDB's
    * TIMESTAMP truncates the parquet nanos to µs, so both engines run
    * on the µs value and the comparison is integer-exact. */
  def q44ScdHistory(s: SparkSession, dir: String): DataFrame = {
    // RANGE-partition the change log on the window key (r10): range
    // partitioning clusters equal keys exactly like hash, so the
    // window runs on it directly — and because range partitions are
    // globally ORDERED, the final key-prefixed sort needs only
    // sortWithinPartitions: ONE exchange total instead of two, and
    // the range sampler scans just user_id instead of re-running the
    // window stage (0.70 s → 0.45 s at sf0.1).
    val ev = t(s, dir, "events")
      .select(col("user_id"), col("event_type"),
        expr("ts_ns div 1000").as("ts_us")) // integer div — `/` is double
      .repartitionByRange(col("user_id"))
    Scd2.fromChangeLog(ev, Seq("user_id"), Seq("event_type"), "ts_us")
      .select(col("user_id"), col("event_type"),
        col("valid_from").as("valid_from_us"),
        col("valid_to").as("valid_to_us"),
        col("version"), col("is_current").cast("string").as("is_current"))
      .sortWithinPartitions("user_id", "valid_from_us")
  }

  /** New-in-r6 — §2 #37: delete-by-key for deltas too big to broadcast.
    * A bloom over the delta's composite key (1.2 bytes/key at 1 % fpp)
    * proves most base rows keyless so they bypass the anti-join
    * shuffle; only maybe-matching rows shuffle, and the exact anti
    * join removes the sketch's false positives. Results are identical
    * to the broadcast path — the oracle is plain delete+insert SQL. */
  def q45BloomDeleteInsert(s: SparkSession, dir: String): DataFrame = {
    val li = t(s, dir, "lineitem")
      .select("l_orderkey", "l_linenumber", "l_quantity")
    val delta = li.where(col("l_orderkey") % 13 === 0)
      .withColumn("l_quantity", lit(0.0))
    // self-sizing estimate: base row count is a metadata-only parquet
    // aggregate (aggregatePushdown), delta ≈ 1/13 of it. The daily sf
    // regime stays in the broadcast tier; an amplified/backfill corpus
    // (ScaleBench x10/x30) flips the operator into its bloom-split tier
    // with no caller retuning — the adaptivity is part of what the
    // scale sweep measures. Cached per corpus dir (the hot-key-list
    // discipline): the count is a ~0.15 s job floor that would
    // otherwise tax every run of an unchanged corpus.
    val expected: Long = deltaEstimateCache.computeIfAbsent(dir,
      _ => java.lang.Long.valueOf(math.max(li.count() / 13L, 1000L)))
    // ONE range exchange serves both the aggregation's clustering and
    // the global sort (the q44 upsertOrdered trick): the r12 x100
    // decomposition showed the trailing agg+sort was 10.9 s of the
    // 19.0 s total — hash-exchange of the 64 M-row union + range
    // exchange of the 16.5 M-group result; range-partitioning FIRST
    // collapses them (agg+sort alone 10.9 → 6.1 s, full query
    // 20.5 → 13.9 s same-window; BASELINE.md round-12).
    BloomPrune.prunedDeleteInsert(li, delta,
        Seq("l_orderkey", "l_linenumber"),
        expectedItems = expected, fpp = 0.01)
      .repartitionByRange(col("l_orderkey"))
      .groupBy("l_orderkey")
      .agg(count(lit(1)).as("n_items"),
        sum(col("l_quantity").cast("decimal(18,2)")).cast("double").as("total_qty"))
      .orderBy("l_orderkey")
  }

  /** New-in-r6 — the query row 36's history exists to answer: each
    * purchase attributed to the user's profile-state VERSION active at
    * purchase time (state = the SCD2 history over the user's
    * non-purchase events). Composes fromChangeLog + the as-of merge
    * formulation — two windows, each one shuffle on user_id, no range
    * join. Purchases before a user's first state version keep nulls. */
  def q48PointInTime(s: SparkSession, dir: String): DataFrame = {
    val ev = t(s, dir, "events").select(col("event_id"), col("user_id"),
      col("event_type"), expr("ts_ns div 1000").as("ts_us"))
    val hist = Scd2.fromChangeLog(
      ev.where(col("event_type") =!= "purchase")
        .select("user_id", "event_type", "ts_us"),
      Seq("user_id"), Seq("event_type"), "ts_us")
    val facts = ev.where(col("event_type") === "purchase")
      .select(col("event_id"), col("user_id"), col("ts_us"))
    Scd2.pointInTime(facts, hist, "user_id", col("ts_us"), col("event_id"))
      .select(col("event_id"), col("user_id"),
        col("ts_us").as("purchase_us"),
        col("dim_event_type").as("state"),
        col("dim_version").as("state_version"))
      .sortWithinPartitions("event_id")
  }

  /** New-in-r6 — snapshot-diff CDC: the minimal delta between two full
    * loads (insert/update/delete per key), the change feed the
    * reference's full-replace rewrites never surface. One full-outer
    * shuffle join; seeded deletes (%19), status updates (%23) and
    * key-shifted inserts (%31) give the oracle known rows of every op. */
  def q50SnapshotDiff(s: SparkSession, dir: String): DataFrame = {
    val o = t(s, dir, "orders")
      .select("o_orderkey", "o_orderstatus", "o_totalprice")
    val cur = o.where(col("o_orderkey") % 19 =!= 0)
      .withColumn("o_orderstatus",
        when(col("o_orderkey") % 23 === 0, lit("X"))
          .otherwise(col("o_orderstatus")))
      .unionByName(o.where(col("o_orderkey") % 31 === 0)
        .withColumn("o_orderkey", col("o_orderkey") + 10000000L))
    Incremental.snapshotDiff(o, cur, Seq("o_orderkey"))
      .sortWithinPartitions("o_orderkey")
  }

  /** Per-corpus hot-key list for q65 (the [[Skew.hotKeys]] sampled
    * pre-pass — like the stop lists, a corpus-level artifact computed
    * once per dir, persisted next to the table at real scale). */
  private val hotKeyCache =
    new java.util.concurrent.ConcurrentHashMap[String, Seq[Any]]()
  private val deltaEstimateCache =
    new java.util.concurrent.ConcurrentHashMap[String, java.lang.Long]()
  private def q65Fact(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem")
      .select("l_orderkey", "l_linenumber", "l_partkey", "l_quantity")
      .withColumn("pk",
        when(col("l_orderkey") % 3 === 0, lit(1L))
          .otherwise(col("l_partkey").cast("long")))
  private def hotPartKeys(s: SparkSession, dir: String): Seq[Any] =
    hotKeyCache.computeIfAbsent(dir, _ =>
      Skew.hotKeys(q65Fact(s, dir), "pk",
          rowIdCols = Seq("l_orderkey", "l_linenumber"),
          minShare = 0.05, sampleMod = 10)
        .collect().map(_.get(0)).toSeq)

  /** New-in-r7 — hot-key-salted fact⋈dim join benched end to end. A
    * third of the fact is seeded onto ONE part key (the "hot product"):
    * a plain key-partitioned join would pin that key's whole mass on a
    * single reducer. The hot list comes from [[Skew.hotKeys]]'s sampled
    * pre-pass (cached per corpus); only hot rows salt (factor 8) and
    * the dim replicates only for hot keys — (factor−1)·|hot| extra
    * rows, not factor·|dim|. The dim side carries a shuffle_hash hint:
    * at 100 TB the dim outgrows broadcast, and the salted exchange is
    * the thing under test (a broadcast join has no skew to fix); the
    * hash build beats SMJ here because it skips sorting the fact side
    * entirely, and the build side is the DIM — whose per-partition
    * slice the salting keeps bounded (measured r10: SMJ 0.87 s → SHJ
    * 0.72 s at sf0.1). Results are identical to the plain join by
    * construction — the oracle is plain join SQL; the salted exchange +
    * replication bound are pinned in PlanAuditSpec.
    *
    * Bench-framing note (r11, BASELINE.md "q65 salting-overhead
    * decomposition"): the DuckDB oracle runs the PLAIN join, so its
    * ratio prices the salting machinery as if it were engine gap.
    * Measured same-window: Spark plain 0.60 s, salted 0.83 s —
    * the machinery under test costs +0.23 s (+38 %) at sf0.1.
    *
    * r12 x100 REVERSAL (the payoff, measured): Spark plain join
    * 13.51 s vs salted 6.04 s — at 60 M fact rows the seeded hot key
    * (1/3 of the fact on one reducer) dominates the plain join and
    * the salting machinery is a 2.2× WIN, exactly the skew it exists
    * to fix. DuckDB's 0.34 s is a single-node hash join with no
    * partition skew to pay, so the oracle ratio prices a problem
    * Spark-as-a-cluster has and DuckDB-as-a-process doesn't; the
    * plain-vs-salted split above is the honest engine comparison.
    *
    * Salt factor self-sizes from the available parallelism (r12 ADVICE
    * follow-through): factor 8 was tuned at sf0.1, but at x100 the hot
    * key's ~20 M rows / 8 salts still pin 2.5 M rows per reducer —
    * measured sweep f8/f16/f32/f64 = 7.00 / 5.14 / 5.19 / 5.11 s, flat
    * from 16 up. max(8, cores/2) spreads the hot mass across half the
    * cores (the other half serve the non-hot partitions) at a dim
    * replication cost of only (factor−1)·|hot| rows. */
  def q65SaltedJoin(s: SparkSession, dir: String): DataFrame = {
    val dim = t(s, dir, "part")
      .select(col("p_partkey").cast("long").as("pk"), col("p_brand"))
      .hint("shuffle_hash")
    val factor = math.max(8, s.sparkContext.defaultParallelism / 2)
    Skew.partialSaltedJoin(q65Fact(s, dir), dim, "pk", factor = factor,
        saltSource = Seq("l_orderkey", "l_linenumber"),
        hot = hotPartKeys(s, dir))
      .groupBy("p_brand")
      .agg(count(lit(1)).as("n_items"),
        sum(col("l_quantity").cast("decimal(18,2)")).cast("double").as("total_qty"))
      .sortWithinPartitions("p_brand")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q65_salted_join" -> (q65SaltedJoin _),
    "q01_rowcounts" -> (q01Rowcounts _),
    "q44_scd2_history" -> (q44ScdHistory _),
    "q45_bloom_delete_insert" -> (q45BloomDeleteInsert _),
    "q48_point_in_time" -> (q48PointInTime _),
    "q50_snapshot_diff" -> (q50SnapshotDiff _),
    "q02_dedup_keep_last" -> (q02DedupKeepLast _),
    "q03_normalize_props" -> (q03NormalizeProps _),
    "q04_explode_tokens" -> (q04ExplodeTokens _),
    "q05_flatten_prefix" -> (q05FlattenPrefix _),
    "q06_safe_casts" -> (q06SafeCasts _),
    "q07_unix_ts" -> (q07UnixTs _),
    "q08_etl_metadata" -> (q08EtlMetadata _),
    "q09_incremental_agg" -> (q09IncrementalAgg _),
    "q10_star_join" -> (q10StarJoin _),
    "q41_colocated_join" -> (q41ColocatedJoin _),
    "q11_upsert" -> (q11Upsert _),
    "q12_delete_insert" -> (q12DeleteInsert _),
    "q13_cascade_order" -> (q13CascadeOrder _),
    "q14_schema_project" -> (q14SchemaProject _),
    "q15_batch_stats" -> (q15BatchStats _),
    "q16_audit_log" -> (q16AuditLog _),
    "q33_quarantine" -> (q33Quarantine _)
  )

  val oracleSql: Map[String, String] = Map(
    "q65_salted_join" ->
      """WITH fact AS (
        |  SELECT CASE WHEN l_orderkey % 3 = 0 THEN 1 ELSE l_partkey END AS pk, l_quantity
        |  FROM lineitem)
        |SELECT p_brand, CAST(count(*) AS BIGINT) AS n_items,
        |  CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS total_qty
        |FROM fact JOIN part ON p_partkey = fact.pk
        |GROUP BY p_brand ORDER BY p_brand""".stripMargin,

    "q01_rowcounts" ->
      Tables.allTables.map(t =>
        s"SELECT '$t' AS table_name, CAST(count(*) AS BIGINT) AS n_rows FROM $t")
        .mkString("", " UNION ALL ", " ORDER BY n_rows DESC, table_name"),

    "q02_dedup_keep_last" ->
      """SELECT user_id, event_type, event_id AS last_event_id, value AS last_value
        |FROM (SELECT *, row_number() OVER (PARTITION BY user_id, event_type ORDER BY event_id DESC) AS rn FROM events)
        |WHERE rn = 1 ORDER BY user_id, event_type""".stripMargin,

    "q03_normalize_props" ->
      """SELECT event_id, event_type, CAST(json_extract_string(props, '$.k') AS BIGINT) AS prop_k
        |FROM events WHERE json_extract_string(props, '$.k') IS NOT NULL ORDER BY event_id""".stripMargin,

    "q04_explode_tokens" ->
      """SELECT word, CAST(count(*) AS BIGINT) AS n
        |FROM (SELECT unnest(string_split(p_name, ' ')) AS word FROM part)
        |GROUP BY word ORDER BY n DESC, word""".stripMargin,

    "q05_flatten_prefix" ->
      """SELECT o.o_orderkey AS order_key, o.o_orderstatus AS order_status,
        |  l.l_linenumber AS item_linenumber, l.l_quantity AS item_quantity,
        |  CAST(count(l.l_orderkey) OVER (PARTITION BY o.o_orderkey) AS BIGINT) AS total_items_in_order,
        |  (count(l.l_orderkey) OVER (PARTITION BY o.o_orderkey)) > 1 AS has_multiple_items
        |FROM orders o LEFT JOIN lineitem l ON o.o_orderkey = l.l_orderkey
        |ORDER BY order_key, item_linenumber NULLS FIRST""".stripMargin,

    "q06_safe_casts" ->
      """SELECT p_partkey,
        |  TRY_CAST(p_brand AS BIGINT) AS brand_as_int,
        |  TRY_CAST(regexp_extract(p_brand, '([0-9]+)', 1) AS BIGINT) AS brand_num,
        |  TRY_CAST(p_type AS DOUBLE) AS type_as_float,
        |  (lower(trim(CASE WHEN p_size % 4 = 0 THEN 'TRUE' WHEN p_size % 4 = 1 THEN 'yes'
        |               WHEN p_size % 4 = 2 THEN 'off' ELSE '1' END))
        |     IN ('true','1','yes','on')) AS flag,
        |  substr(p_name, 1, 12) AS name_trunc
        |FROM part ORDER BY p_partkey""".stripMargin,

    "q07_unix_ts" ->
      """SELECT o_orderkey,
        |  strftime(to_timestamp(nullif(CASE WHEN o_orderkey % 10 = 0 THEN 0 ELSE o_orderkey * 7919 END, 0)), '%Y-%m-%d %H:%M:%S') AS ts_from_sec,
        |  strftime(epoch_ms(nullif(CASE WHEN o_orderkey % 10 = 0 THEN 0 ELSE o_orderkey * 7919 END, 0) * 1000), '%Y-%m-%d %H:%M:%S') AS ts_from_ms
        |FROM orders ORDER BY o_orderkey""".stripMargin,

    "q08_etl_metadata" ->
      """SELECT n_nationkey, n_name, 'batch-0001' AS etl_batch_id,
        |  '2024-01-01 00:00:00' AS etl_created, 'graft_engine' AS etl_source
        |FROM nation ORDER BY n_nationkey""".stripMargin,

    "q09_incremental_agg" ->
      """SELECT event_type, CAST(count(*) AS BIGINT) AS n_events,
        |  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
        |FROM events WHERE ts >= TIMESTAMP '2024-01-20 00:00:00'
        |GROUP BY event_type ORDER BY event_type""".stripMargin,

    "q10_star_join" ->
      """SELECT r_name, l_returnflag,
        |  CAST(sum(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS revenue,
        |  CAST(count(DISTINCT o_orderkey) AS BIGINT) AS n_orders
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |GROUP BY r_name, l_returnflag ORDER BY r_name, l_returnflag""".stripMargin,

    "q41_colocated_join" ->
      """SELECT o_orderpriority,
        |  CAST(count(*) AS BIGINT) AS n_items,
        |  CAST(sum(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS revenue
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,

    "q11_upsert" ->
      """WITH base AS (
        |  SELECT o_orderkey, o_orderstatus, o_totalprice, 0 AS src FROM orders WHERE o_orderkey % 3 <> 0),
        |upd AS (
        |  SELECT o_orderkey, 'U' AS o_orderstatus, o_totalprice * 2 AS o_totalprice, 1 AS src FROM orders WHERE o_orderkey % 2 = 0),
        |merged AS (SELECT * FROM base UNION ALL SELECT * FROM upd)
        |SELECT o_orderkey, o_orderstatus, o_totalprice
        |FROM (SELECT *, row_number() OVER (PARTITION BY o_orderkey ORDER BY src DESC) AS rn FROM merged)
        |WHERE rn = 1 ORDER BY o_orderkey""".stripMargin,

    "q12_delete_insert" ->
      """SELECT c_custkey, c_mktsegment, c_acctbal FROM customer WHERE c_custkey % 10 <> 0
        |UNION ALL
        |SELECT c_custkey, 'REFRESH' AS c_mktsegment, 0.0 AS c_acctbal FROM customer WHERE c_custkey % 10 = 0
        |ORDER BY c_custkey""".stripMargin,

    "q13_cascade_order" ->
      """SELECT 1 AS del_order, 'lineitem' AS table_name, CAST(count(*) AS BIGINT) AS n_rows FROM lineitem
        |UNION ALL
        |SELECT 2 AS del_order, 'orders' AS table_name, CAST(count(*) AS BIGINT) AS n_rows FROM orders
        |ORDER BY del_order""".stripMargin,

    "q14_schema_project" ->
      """SELECT o_orderkey, strftime(o_orderdate, '%Y-%m-%d') AS o_orderdate, o_totalprice
        |FROM orders ORDER BY o_orderkey""".stripMargin,

    "q15_batch_stats" ->
      """SELECT strftime(CAST(ts AS DATE), '%Y-%m-%d') AS batch_date,
        |  CAST(count(*) AS BIGINT) AS n_events,
        |  CAST(count(DISTINCT user_id) AS BIGINT) AS n_users,
        |  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin,

    "q16_audit_log" ->
      """SELECT event_type AS etl_source, CAST(count(*) AS BIGINT) AS n_rows,
        |  strftime(min(ts), '%Y-%m-%d %H:%M:%S') AS window_start,
        |  strftime(max(ts), '%Y-%m-%d %H:%M:%S') AS window_end,
        |  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value,
        |  CASE WHEN count(*) > 0 THEN 'SUCCESS' ELSE 'EMPTY' END AS status
        |FROM events GROUP BY event_type ORDER BY etl_source""".stripMargin,

    "q44_scd2_history" ->
      """WITH e AS (SELECT user_id, event_type, CAST(epoch_us(ts) AS BIGINT) AS ts_us FROM events),
        |d AS (SELECT *, lead(ts_us) OVER (PARTITION BY user_id ORDER BY ts_us, event_type) AS nxt FROM e),
        |dd AS (SELECT user_id, event_type, ts_us FROM d WHERE nxt IS NULL OR nxt <> ts_us),
        |cp AS (SELECT *, lag(event_type) OVER (PARTITION BY user_id ORDER BY ts_us) AS prev FROM dd),
        |v AS (SELECT user_id, event_type, ts_us AS valid_from_us FROM cp WHERE prev IS NULL OR prev <> event_type)
        |SELECT user_id, event_type, valid_from_us,
        |  lead(valid_from_us) OVER (PARTITION BY user_id ORDER BY valid_from_us) AS valid_to_us,
        |  CAST(row_number() OVER (PARTITION BY user_id ORDER BY valid_from_us) AS INT) AS version,
        |  CAST(lead(valid_from_us) OVER (PARTITION BY user_id ORDER BY valid_from_us) IS NULL AS VARCHAR) AS is_current
        |FROM v ORDER BY user_id, valid_from_us""".stripMargin,

    "q48_point_in_time" ->
      """WITH e AS (SELECT event_id, user_id, event_type, CAST(epoch_us(ts) AS BIGINT) AS ts_us FROM events),
        |ne AS (SELECT user_id, event_type, ts_us FROM e WHERE event_type <> 'purchase'),
        |d AS (SELECT *, lead(ts_us) OVER (PARTITION BY user_id ORDER BY ts_us, event_type) AS nxt FROM ne),
        |dd AS (SELECT user_id, event_type, ts_us FROM d WHERE nxt IS NULL OR nxt <> ts_us),
        |cp AS (SELECT *, lag(event_type) OVER (PARTITION BY user_id ORDER BY ts_us) AS prev FROM dd),
        |v AS (SELECT user_id, event_type, ts_us AS valid_from_us,
        |        CAST(row_number() OVER (PARTITION BY user_id ORDER BY ts_us) AS INT) AS state_version
        |      FROM cp WHERE prev IS NULL OR prev <> event_type),
        |p AS (SELECT event_id, user_id, ts_us FROM e WHERE event_type = 'purchase')
        |SELECT p.event_id, p.user_id, p.ts_us AS purchase_us,
        |  v.event_type AS state, v.state_version
        |FROM p ASOF LEFT JOIN v ON p.user_id = v.user_id AND p.ts_us >= v.valid_from_us
        |ORDER BY p.event_id""".stripMargin,

    "q50_snapshot_diff" ->
      """WITH o AS (SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders),
        |cur AS (
        |  SELECT o_orderkey,
        |    CASE WHEN o_orderkey % 23 = 0 THEN 'X' ELSE o_orderstatus END AS o_orderstatus,
        |    o_totalprice
        |  FROM o WHERE o_orderkey % 19 <> 0
        |  UNION ALL
        |  SELECT o_orderkey + 10000000, o_orderstatus, o_totalprice FROM o WHERE o_orderkey % 31 = 0),
        |j AS (SELECT coalesce(p.o_orderkey, c.o_orderkey) AS o_orderkey,
        |        CASE WHEN p.o_orderkey IS NULL THEN 'insert'
        |             WHEN c.o_orderkey IS NULL THEN 'delete'
        |             WHEN p.o_orderstatus <> c.o_orderstatus
        |               OR p.o_totalprice <> c.o_totalprice THEN 'update' END AS change_op,
        |        coalesce(c.o_orderstatus, p.o_orderstatus) AS o_orderstatus,
        |        coalesce(c.o_totalprice, p.o_totalprice) AS o_totalprice
        |      FROM o p FULL OUTER JOIN cur c ON p.o_orderkey = c.o_orderkey)
        |SELECT o_orderkey, change_op, o_orderstatus, o_totalprice
        |FROM j WHERE change_op IS NOT NULL ORDER BY o_orderkey""".stripMargin,

    "q45_bloom_delete_insert" ->
      """WITH merged AS (
        |  SELECT l_orderkey, l_linenumber, l_quantity FROM lineitem WHERE l_orderkey % 13 <> 0
        |  UNION ALL
        |  SELECT l_orderkey, l_linenumber, 0.0 AS l_quantity FROM lineitem WHERE l_orderkey % 13 = 0)
        |SELECT l_orderkey, CAST(count(*) AS BIGINT) AS n_items,
        |  CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS total_qty
        |FROM merged GROUP BY l_orderkey ORDER BY l_orderkey""".stripMargin,

    "q33_quarantine" ->
      """WITH c AS (
        |  SELECT event_type,
        |    CASE WHEN event_id % 7 = 0 THEN replace(props, '{', '<') ELSE props END AS props
        |  FROM events),
        |p AS (SELECT event_type, json_valid(props) AS ok,
        |        CASE WHEN json_valid(props)
        |             THEN CAST(json_extract_string(props, '$.k') AS BIGINT) END AS k FROM c)
        |SELECT event_type,
        |  CAST(count(CASE WHEN ok THEN 1 END) AS BIGINT) AS n_valid,
        |  CAST(count(CASE WHEN NOT ok THEN 1 END) AS BIGINT) AS n_quarantined,
        |  CAST(sum(CASE WHEN ok THEN k END) AS BIGINT) AS sum_k
        |FROM p GROUP BY event_type ORDER BY event_type""".stripMargin
  )
}
