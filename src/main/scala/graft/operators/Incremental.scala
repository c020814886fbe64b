package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Observation, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.sources.{ParquetMeta, ParquetSink}

/** Incremental-load semantics: window filter, upsert/MERGE, delete+insert,
  * full replace, schema projection.
  *
  * Reference: dags/incremental_etl_dag.py:59-84 (lookback window),
  * misa_crm_loader.py:215-500 (MERGE on business key),
  * misa_crm_loader.py:847-880 + dags/incremental_refresh_bridge_dag.py
  * (delete-by-key then insert), shopee_orders_loader.py:162-211
  * (full-load replace with FK-safe cascade clear),
  * misa_crm_loader.py:123,274 (column-intersect against target schema).
  */
object Incremental {

  /** `update_time >= watermark` as a literal predicate on the scan column
    * so Catalyst pushes it into the parquet reader (PushedFilters) —
    * at 100 TB this is the difference between reading a day and reading
    * the lake. Apply BEFORE any join/explode. */
  def windowFilter(df: DataFrame, tsCol: String, watermark: String): DataFrame =
    df.where(col(tsCol) >= lit(watermark).cast("timestamp"))

  /** Variant for nano-epoch long columns. NOTE (r8): events.ts_ns is
    * now DERIVED from the physical micros timestamp, so this no longer
    * reaches PushedFilters there — incremental event windows belong on
    * [[windowFilter]] over `ts` (the physical column). Kept for long
    * epoch columns that ARE physical. */
  def windowFilterNanos(df: DataFrame, nsCol: String, watermarkNs: Long): DataFrame =
    df.where(col(nsCol) >= lit(watermarkNs))

  /** MERGE: rows from `updates` replace same-key rows in `base`; new keys
    * append. One union + one hash shuffle on `keys` (the keep-last
    * window); no driver round-trips. `order` decides between versions
    * of a key (e.g. update_time or a sequence number); source precedence
    * breaks its ties, so an update equal in `order` to a base row wins. */
  def upsert(base: DataFrame, updates: DataFrame, keys: Seq[String],
      order: Seq[Column] = Nil): DataFrame =
    keepLastOf(base, updates, keys, order)(identity)

  /** [[upsert]] whose single window exchange is RANGE-partitioned on
    * the keys (range clusters equal keys exactly like hash), so the
    * merged output comes back in globally key-ordered partitions — a
    * consumer that wants the result key-sorted pays only an in-memory
    * sortWithinPartitions instead of a second full exchange, and the
    * range sampler reads just the key columns. Same rows as [[upsert]]
    * (asserted in OperatorsSpec); prefer plain [[upsert]] when the
    * output is consumed unordered. */
  def upsertOrdered(base: DataFrame, updates: DataFrame, keys: Seq[String],
      order: Seq[Column] = Nil): DataFrame =
    keepLastOf(base, updates, keys, order)(_.repartitionByRange(keys.map(col): _*))

  /** What a gated [[mergeInto]] counts inside its own write.
    * `eligible` marks the rows of `updates` that may merge; the others
    * travel through the write for the counters only, never win a key
    * and are never written. `counters` are named aggregates over every
    * row of the write, target rows included, so each one conditions on
    * [[fromUpdates]]; [[repeatOfKey]] is the key-level view.
    * `publish` reads their values once the merged rows are staged: true
    * publishes them, false leaves the target as it was, and a throw
    * fails the MERGE with nothing published. */
  final case class Gate(eligible: Column, counters: Seq[Column],
      publish: Row => Boolean)

  /** In a [[Gate]]'s counters: the row is one of `updates`. */
  val fromUpdates: Column = col("__src") === 1

  /** In a [[Gate]]'s counters: the row is one of `updates`, and another
    * row of `updates` with the same key comes before it in the key's
    * keep-last order — a key held by k rows of `updates` has k − 1 of
    * them. */
  val repeatOfKey: Column = fromUpdates && col("__seen") > 1

  /** `base` ∪ `updates` (projected onto `base`'s columns), each row
    * tagged with its source, then keep-last on `keys` by `order` and
    * the tag; `exchange` may re-partition the tagged rows first.
    *
    * With a gate, eligibility ranks first, so an ineligible row wins
    * only a key no eligible row holds and is then dropped, and the
    * gate's counters are observed between the keep-last window and its
    * filter. The window runs after the keep-last exchange, in the
    * stage that consumes the merged rows: for a write that is the
    * result stage, whose accumulator updates Spark applies once per
    * partition even when a task or a map stage is re-run, so every
    * row is counted exactly once. */
  private def keepLastOf(base: DataFrame, updates: DataFrame, keys: Seq[String],
      order: Seq[Column], gate: Option[(Gate, Observation)] = None)(
      exchange: DataFrame => DataFrame): DataFrame = {
    val cols = base.columns.toSeq
    def tagged(df: DataFrame, src: Int, eligible: Column) =
      df.select(cols.map(col) ++ Seq(lit(src).as("__src")) ++
        gate.map(_ => eligible.as("__ok")): _*)
    val rows = exchange(tagged(base, 0, lit(true))
      .unionByName(tagged(updates, 1, gate.fold(lit(true))(_._1.eligible))))
    gate match {
      case None => Dedup.keepLast(rows, keys, order :+ col("__src")).drop("__src")
      case Some((g, observation)) =>
        val w = Window.partitionBy(keys.map(col): _*)
          .orderBy((col("__ok") +: order :+ col("__src")).map(_.desc): _*)
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        rows.withColumn("__rn", row_number().over(w))
          .withColumn("__seen", count(when(fromUpdates, 1)).over(w))
          .observe(observation, g.counters.head, g.counters.tail: _*)
          .where(col("__rn") === 1 && col("__ok"))
          .select(cols.map(col): _*)
    }
  }

  /** The keep-last rows of `updates` MERGEd into `target` by [[upsert]],
    * or into an empty base when there is no target yet: a bootstrap load
    * can already carry several versions of one key. */
  private[graft] def mergeRows(target: Option[DataFrame], updates: DataFrame,
      keys: Seq[String], order: Seq[Column],
      gate: Option[(Gate, Observation)] = None): DataFrame =
    keepLastOf(target.getOrElse(updates.limit(0)), updates, keys, order, gate)(identity)

  /** How long a gated write waits for its observed counters, which
    * Spark delivers through a listener once the write has finished. */
  private val ObservedTimeout = scala.concurrent.duration.Duration(10, "min")

  /** MERGE `updates` into the keep-last parquet target at `targetDir`
    * (misa_crm_loader.py:215-500 on a plain filesystem): one row per
    * `keys`, the highest `order` winning and, on equal `order`, the
    * update over the target row. An absent or empty target is
    * bootstrapped from `updates`. The merged rows read the live target,
    * so they are written to staging and published by
    * [[graft.sources.ParquetSink.atomicReplaceIf]], which rewrites the
    * whole target; the presence test runs after its crash recovery has
    * restored a target left aside by an interrupted swap.
    *
    * A `gate` is counted in the same write (see [[Gate]]), so checking
    * it costs no Spark job; its `publish` runs after the staged write
    * and before the publish. Returns the gate's counter values. */
  def mergeInto(spark: SparkSession, targetDir: String, updates: DataFrame,
      keys: Seq[String], order: Seq[Column],
      gate: Option[Gate] = None): Option[Row] =
    ParquetSink.atomicReplaceIf(spark, targetDir) { staging =>
      val target = Some(targetDir).filter(EtlControl.nonEmptyDir(spark, _))
        .map(ParquetMeta.readParquet(spark, _))
      val observed = gate.map(_ -> Observation())
      mergeRows(target, updates, keys, order, observed).write.parquet(staging)
      observed.map { case (_, o) =>
        scala.concurrent.Await.result(o.future, ObservedTimeout)
      }
    }(row => gate.zip(row).forall { case (g, r) => g.publish(r) })

  /** The exactly-once guard of an append-only parquet store: the rows of
    * `rows` whose `keys` the store at `storeDir` does not already hold
    * among its rows matching `window`. A replayed or torn append then
    * re-appends exactly what is missing. An absent or empty store holds
    * nothing, so `rows` come back unchanged. `window` is a scan
    * predicate the caller proves every matching store row satisfies
    * (a doc-id replay window); on id-ranged append files the reader
    * skips older files from their footer min/max. The store side keeps
    * its duplicate keys: a left-anti join's result does not depend on
    * them. A `_temporary/` left in the store by a crashed append is
    * deleted first: it can hold committed task files that readers skip
    * but the next append's job commit would publish beside the replayed
    * rows (one writer per store is assumed, as for any plain-FS
    * append). */
  private[graft] def newRows(spark: SparkSession, storeDir: String,
      rows: DataFrame, keys: Seq[String], window: Column = lit(true)): DataFrame = {
    val pending = new org.apache.hadoop.fs.Path(storeDir, "_temporary")
    pending.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(pending, true)
    if (!EtlControl.nonEmptyDir(spark, storeDir)) rows
    else rows.join(ParquetMeta.readParquet(spark, storeDir).where(window)
      .select(keys.map(col): _*), keys, "left_anti")
  }

  /** Delete-by-key then insert (bridge refresh). The delta key set is
    * small relative to base → broadcast the anti-join side. */
  def deleteInsert(base: DataFrame, delta: DataFrame, keys: Seq[String]): DataFrame = {
    val deltaKeys = delta.select(keys.map(col): _*).distinct()
    base.join(broadcast(deltaKeys), keys, "left_anti")
      .unionByName(delta.select(base.columns.map(col).toSeq: _*))
  }

  /** Full-load replace with FK-safe ordering: parents written before
    * children, so a caller clearing the old tables first clears them in
    * the reverse order. Returns the (table, df) write sequence; the
    * caller owns the sink. `fkOrder` lists parents first (e.g. orders
    * before lineitem). */
  def fullLoadReplace(
      tables: Map[String, DataFrame],
      fkOrder: Seq[String]): Seq[(String, DataFrame)] = {
    val writes = fkOrder.filter(tables.contains).map(t => t -> tables(t))
    require(writes.nonEmpty, "no tables to replace")
    writes
  }

  /** Snapshot diff — change-data-capture between two full loads: one
    * row per difference, `change_op` ∈ {insert, update, delete}. The
    * reference's full-load replace (shopee_orders_loader.py:162-211)
    * rewrites everything and learns nothing; diffing the snapshots
    * yields the minimal delta to feed [[upsert]]/[[deleteInsert]] (or
    * an SCD2 [[Scd2.applyBatch]]) instead of a full rewrite.
    *
    * One full-outer shuffle join on the key (both sides hash once,
    * AQE skew-safe); attribute tuples compare null-safely as structs,
    * so column-level nulls diff correctly. Unchanged rows are dropped
    * before anything downstream. Deletes carry the PREVIOUS attrs
    * (there is no current row to report); inserts/updates carry the
    * current ones. */
  def snapshotDiff(prev: DataFrame, cur: DataFrame,
      keys: Seq[String]): DataFrame = {
    val attrs = cur.columns.filterNot(keys.contains).toSeq
    require(attrs.nonEmpty, "snapshotDiff: no non-key columns to compare")
    val p = prev.select(keys.map(col) :+
      struct(attrs.map(col): _*).as("__pa"): _*)
    val c = cur.select(keys.map(col) :+
      struct(attrs.map(col): _*).as("__ca"): _*)
    val op = when(col("__pa").isNull, lit("insert"))
      .when(col("__ca").isNull, lit("delete"))
      .when(!(col("__pa") <=> col("__ca")), lit("update"))
    val out = p.join(c, keys, "full_outer")
      .withColumn("change_op", op)
      .where(col("change_op").isNotNull)
    val reported = coalesce(col("__ca"), col("__pa"))
    out.select(keys.map(col) ++ Seq(col("change_op")) ++
      attrs.map(a => reported.getField(a).as(a)): _*)
  }

  /** Historical backfill plan: split [start, end) into fixed windows,
    * oldest first (scripts/ backfill runs in the reference iterate
    * day-windows through the same incremental path; logs/
    * backfill_results_*.json record one entry per window). Each window
    * is then processed with windowFilter + upsert — identical code path
    * to the live incremental load. */
  def backfillWindows(start: java.time.Instant, end: java.time.Instant,
      window: java.time.Duration): Seq[(java.time.Instant, java.time.Instant)] = {
    require(!window.isZero && !window.isNegative, "window must be positive")
    Iterator.iterate(start)(_.plus(window))
      .takeWhile(_.isBefore(end))
      .map(w => (w, Seq(w.plus(window), end).min))
      .toSeq
  }

  /** Project to the intersection of df columns and the target schema, in
    * target order — schema-only driver work, no data movement
    * (misa_crm_loader.py:123,274). */
  def schemaProject(df: DataFrame, targetCols: Seq[String]): DataFrame = {
    val have = df.columns.toSet
    df.select(targetCols.filter(have.contains).map(col): _*)
  }
}
