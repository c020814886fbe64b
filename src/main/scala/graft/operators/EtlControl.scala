package graft.operators

import org.apache.spark.sql.{DataFrame, ExpressionColumn, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.plans.LongParam
import graft.sources.{ParquetMeta, ParquetSink}

/** The etl_control watermark cycle that makes incremental runs
  * self-driving (reference: sql/00_master_setup.sql:65-95 —
  * etl_control.batch_runs / data_sources.last_extract_time — and
  * dags/incremental_etl_dag.py:59-84, which reads the last successful
  * run to size its window and writes the new watermark back after
  * load).
  *
  * Control table: an append-only parquet log of batch commits,
  * (source_id, batch_id, watermark_us, records_loaded, status,
  * committed_at). The effective watermark of a source is the MAX over
  * its SUCCESS rows — append-only means a crashed run (no commit row)
  * simply leaves the watermark where it was. The duration and failure
  * logs are separate logs of the same kind.
  *
  * The logs are a control plane, not data: every append and every
  * point read ([[lastWatermarkMicros]], [[expectedRowBounds]],
  * [[expectedDurationBounds]], the [[runDedupCycle]] batch check) is a
  * driver-side file operation that runs no Spark job, like the
  * reference's indexed insert and seek. Layout (one file per appended
  * row, published by rename), the snapshot fold that keeps a read at
  * most `ControlLog.FoldThreshold + 1` files, its crash protocol and
  * the store assumptions are documented on [[ControlLog]].
  * `spark.read.parquet(dir)` still reads every log, including stores
  * written by Spark's own writer before; the reporting views
  * ([[runHistory]], [[successRate]], [[slowRuns]]) keep their
  * DataFrame API over the live files.
  *
  * Exactly-once: the window filter is INCLUSIVE of the stored
  * watermark (`ts >= wm`) and the new watermark is max(ts) actually
  * seen, so the boundary row is re-read on the next run; the load is
  * an upsert (MERGE) on the business key, so the overlap — and any
  * crash-replay of a whole window — lands every row exactly once.
  * Commit ordering is load-then-watermark: a crash between them
  * replays the window, never skips it.
  */
object EtlControl {

  /** Acquire attempt on a source whose lease is live. The caller
    * skips the run (the Airflow behavior when max_active_runs=1
    * queues/skips the second schedule), it does NOT wait. */
  final class LeaseHeldException(msg: String) extends RuntimeException(msg)

  /** A held run lease; [[release]] in a finally. `nonce` is unique
    * to this acquire and is written into the lease file. */
  final case class RunLease private[EtlControl] (
      spark: SparkSession, controlDir: String, sourceId: String,
      holderId: String, nonce: String) {
    private[EtlControl] def path =
      new org.apache.hadoop.fs.Path(controlDir, s"_lease_$sourceId")

    /** Compare-and-delete: removes the lease file only while it is
      * still this acquire's. A holder whose lease went stale and was
      * taken over must not delete the new holder's live lease. The file
      * is renamed to a tomb first, so the check reads a file no rival
      * can replace; a tomb that turns out to be a rival's is restored.
      * In-JVM acquirers are held off by the lease monitor meanwhile;
      * another process's acquirer can find no lease between that rename
      * and the restore. */
    def release(): Unit = leaseMonitor.synchronized {
      val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
      def ours(p: org.apache.hadoop.fs.Path) =
        readLease(fs, p).flatMap(leaseNonce).contains(nonce)
      if (ours(path)) {
        val tomb = new org.apache.hadoop.fs.Path(controlDir,
          s"_lease_$sourceId.release.$nonce")
        if (fs.rename(path, tomb)) {
          if (ours(tomb)) fs.delete(tomb, false)
          else fs.rename(tomb, path)
        }
      }
      ()
    }
  }

  /** The raw bytes of a lease file, None when it is gone or unreadable. */
  private def readLease(fs: org.apache.hadoop.fs.FileSystem,
      p: org.apache.hadoop.fs.Path): Option[Array[Byte]] =
    try {
      val in = fs.open(p)
      try Some(in.readAllBytes()) finally in.close()
    } catch { case scala.util.control.NonFatal(_) => None }

  private def leaseProps(bytes: Array[Byte]): Option[java.util.Properties] =
    try {
      val props = new java.util.Properties()
      props.load(new java.io.ByteArrayInputStream(bytes))
      Some(props)
    } catch { case scala.util.control.NonFatal(_) => None }

  private def leaseNonce(bytes: Array[Byte]): Option[String] =
    leaseProps(bytes).flatMap(p => Option(p.getProperty("nonce")))

  /** MAX-ACTIVE-RUNS=1 for one source: the reference serializes runs
    * (`max_active_runs=1`, incremental_refresh_bridge_dag.py:50) so a
    * slow cycle is never interleaved with the next schedule's — two
    * concurrent cycles on one target could interleave their staged
    * swaps (both read target, both publish; last write silently wins
    * with the other's rows lost). The lease is a create-if-absent
    * marker file in the control dir: atomic on HDFS-like stores
    * (`create(overwrite=false)` is an atomic namespace op there; on a
    * local FS the window is a same-machine TOCTOU microsecond, closed
    * for in-JVM callers by the monitor below). A holder that CRASHES
    * leaves the file behind — that is what `ttlMs` is for: an acquire
    * finding a lease older than the ttl (by the injectable clock,
    * falling back to file modification time when the content is torn)
    * takes it over. Size ttl ≫ the longest cycle, the standard
    * stale-lock tradeoff. Throws [[LeaseHeldException]] when live. */
  def acquireRunLease(spark: SparkSession, controlDir: String,
      sourceId: String, holderId: String, ttlMs: Long,
      nowMs: () => Long = () => System.currentTimeMillis()): RunLease =
    leaseMonitor.synchronized {
      val lease = RunLease(spark, controlDir, sourceId, holderId,
        java.util.UUID.randomUUID().toString)
      val p = lease.path
      val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      fs.mkdirs(p.getParent)
      if (fs.exists(p)) {
        // Read the lease CONTENT (raw bytes) once: staleness is judged
        // from its acquired_at_ms, and the same bytes identify the file
        // after the takeover rename below — verification needs to know
        // the renamed file IS the one whose staleness was observed.
        val observedBytes = readLease(fs, p)
        val observedMtime = fs.getFileStatus(p).getModificationTime
        val acquiredAt = observedBytes.flatMap(leaseProps)
          .flatMap(props => Option(props.getProperty("acquired_at_ms")))
          .flatMap(_.toLongOption).getOrElse(observedMtime)
        if (nowMs() - acquiredAt <= ttlMs)
          throw new LeaseHeldException(
            s"run lease for $sourceId is held (age ${nowMs() - acquiredAt} ms" +
              s" <= ttl $ttlMs ms) — another cycle is active; skipping")
        staleTakeoverTestHook()
        // Stale takeover via ATOMIC RENAME, not delete-then-create: two
        // acquirers can both observe the stale file, but only one
        // rename succeeds — the loser backs off instead of deleting a
        // lease the winner may have just re-created (the double-holder
        // interleaving the lease exists to prevent).
        val tomb = new org.apache.hadoop.fs.Path(controlDir,
          s"_lease_$sourceId.stale.$holderId.${nowMs()}")
        if (!fs.rename(p, tomb))
          throw new LeaseHeldException(
            s"run lease for $sourceId is being taken over by another " +
              "acquirer; skipping")
        // The rename alone does not prove we moved the STALE lease: a
        // rival could have completed its own takeover (rename + delete
        // + fresh create at p) between our staleness read and our
        // rename, in which case we just renamed the rival's LIVE lease.
        // Verify the tomb is the file we observed (byte-equal content;
        // mtime when the content was torn/unreadable — rename preserves
        // it). On mismatch, restore the rival's lease and back off.
        val tombMatchesObserved = observedBytes match {
          case Some(ob) => readLease(fs, tomb).exists(java.util.Arrays.equals(ob, _))
          case None =>
            try fs.getFileStatus(tomb).getModificationTime == observedMtime
            catch { case scala.util.control.NonFatal(_) => false }
        }
        if (!tombMatchesObserved) {
          fs.rename(tomb, p) // best-effort restore of the rival's lease
          throw new LeaseHeldException(
            s"run lease for $sourceId was re-acquired by another holder " +
              "during stale takeover; restored it and backing off")
        }
        fs.delete(tomb, false)
      }
      // create-if-absent: atomic on HDFS-semantics stores. A lost race
      // (another acquirer created between our exists/rename and here)
      // surfaces as the typed lease exception, not a raw FS error.
      // Residual window: a plain local FS checks-then-creates inside
      // create(overwrite=false), so cross-PROCESS local acquirers keep
      // a microsecond TOCTOU (in-JVM ones are serialized by the
      // monitor); HDFS-like namespaces have none.
      val out =
        try fs.create(p, false)
        catch {
          case e: org.apache.hadoop.fs.FileAlreadyExistsException =>
            throw new LeaseHeldException(
              s"run lease for $sourceId was acquired concurrently: $e")
          case e: java.nio.file.FileAlreadyExistsException =>
            throw new LeaseHeldException(
              s"run lease for $sourceId was acquired concurrently: $e")
        }
      try {
        val props = new java.util.Properties()
        props.setProperty("holder_id", holderId)
        props.setProperty("acquired_at_ms", nowMs().toString)
        props.setProperty("nonce", lease.nonce)
        props.store(out, "graft run lease")
      } finally out.close()
      lease
    }

  /** The object-wide monitor closing the local-FS TOCTOU for
    * same-JVM concurrent acquirers (cross-process atomicity comes
    * from the store's create-if-absent). */
  private val leaseMonitor = new Object

  /** Test seam: runs between the staleness observation and the
    * takeover rename, where a rival acquirer can complete its own
    * takeover. Production value is a no-op. */
  private[graft] var staleTakeoverTestHook: () => Unit = () => ()

  /** Run `body` under the source's run lease: acquire → body →
    * release (also on body failure — a FAILED run must free the slot,
    * like Airflow's; only a crash leaves the lease for ttl takeover).
    * Wrap whole cycles: `withRunLease(...) { runIncrementalCycle(...) }`. */
  def withRunLease[A](spark: SparkSession, controlDir: String,
      sourceId: String, holderId: String, ttlMs: Long,
      nowMs: () => Long = () => System.currentTimeMillis())(body: => A): A = {
    val lease = acquireRunLease(spark, controlDir, sourceId, holderId,
      ttlMs, nowMs)
    try body finally lease.release()
  }

  /** A parquet dir counts as present only when it has content — a
    * pre-created empty directory (mktemp conventions), or one holding
    * only the `_temporary/` of a crashed first write, must behave like
    * a missing one, not crash parquet schema inference. */
  private[graft] def nonEmptyDir(spark: SparkSession, dir: String): Boolean = {
    val p = new org.apache.hadoop.fs.Path(dir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // hidden entries — _SUCCESS, _temporary, checksums — don't make a
    // dir readable
    fs.exists(p) &&
      fs.listStatus(p).exists(s => !ParquetMeta.isHidden(s.getPath.getName))
  }

  /** The live SUCCESS rows of `sourceId` in the log at `dir`, read on
    * the driver. */
  private def successRows(spark: SparkSession, dir: String,
      sourceId: String): Seq[ControlLog.Row] =
    ControlLog.read(spark.sparkContext.hadoopConfiguration, dir).filter(r =>
      r("source_id") == sourceId && r("status") == "SUCCESS")

  /** Last committed watermark (epoch micros) for `sourceId`, or
    * `defaultUs` if the control table has no SUCCESS rows for it. */
  def lastWatermarkMicros(spark: SparkSession, controlDir: String,
      sourceId: String, defaultUs: Long): Long =
    successRows(spark, controlDir, sourceId)
      .map(_("watermark_us").asInstanceOf[Long])
      .maxOption.getOrElse(defaultUs)

  /** The logs' row schemas, as Spark's writer stamped the pre-existing
    * stores: string columns nullable, the rest not. */
  private val commitLogSchema = StructType(Seq(
    StructField("source_id", StringType), StructField("batch_id", StringType),
    StructField("watermark_us", LongType, nullable = false),
    StructField("records_loaded", LongType, nullable = false),
    StructField("status", StringType),
    StructField("committed_at", TimestampType, nullable = false)))
  private val durationLogSchema = StructType(Seq(
    StructField("source_id", StringType), StructField("batch_id", StringType),
    StructField("duration_sec", DoubleType, nullable = false),
    StructField("status", StringType),
    StructField("completed_at", TimestampType, nullable = false)))
  private val failureLogSchema = StructType(Seq(
    StructField("source_id", StringType), StructField("batch_id", StringType),
    StructField("stage", StringType), StructField("error_class", StringType),
    StructField("error_message", StringType),
    StructField("failed_at", TimestampType, nullable = false)))

  /** Now, in epoch micros — the precision Spark's `current_timestamp`
    * stamped the logs with. */
  private def nowMicros(): Long = {
    val t = java.time.Instant.now()
    t.getEpochSecond * 1000000L + t.getNano / 1000
  }

  /** Append one commit row to the control log (the batch_runs insert —
    * append-only: each row is its own file, so commits from concurrent
    * sources never rewrite or lose each other). */
  def commitRun(spark: SparkSession, controlDir: String, sourceId: String,
      batchId: String, watermarkUs: Long, recordsLoaded: Long,
      status: String = "SUCCESS"): Unit =
    ControlLog.append(spark.sparkContext.hadoopConfiguration, controlDir,
      commitLogSchema,
      Seq(sourceId, batchId, watermarkUs, recordsLoaded, status, nowMicros()))

  /** Append one task-failure record — the reference's etl_logging
    * surface (src/utils/etl_logging.py logs per-task failures into
    * the control schema's own table). A SEPARATE append-only log, not
    * extra columns on the commit log: the commit log's schema stays
    * stable, and failures never enter the watermark/row-bounds reads
    * (which filter on SUCCESS) by construction. Row: (source_id,
    * batch_id, stage, error_class, error_message, failed_at). */
  def logTaskFailure(spark: SparkSession, failureDir: String,
      sourceId: String, batchId: String, stage: String,
      error: Throwable): Unit =
    ControlLog.append(spark.sparkContext.hadoopConfiguration, failureDir,
      failureLogSchema,
      Seq(sourceId, batchId, stage, error.getClass.getName,
        String.valueOf(error.getMessage).take(4096), nowMicros()))

  /** Run one cycle stage as a LOGGED task: a failure appends its
    * record to `failureDir` (stage + error class — the alertable
    * pattern [[expectedRowBounds]]-style monitors need) and rethrows;
    * the watermark cannot advance because the commit row was never
    * written. Compose with [[withRunLease]]:
    * `withRunLease(...) { loggedRun(...) { runIncrementalCycle(...) } }`. */
  def loggedRun[A](spark: SparkSession, failureDir: String,
      sourceId: String, batchId: String, stage: String)(body: => A): A =
    try body catch {
      case scala.util.control.NonFatal(e) =>
        logTaskFailure(spark, failureDir, sourceId, batchId, stage, e)
        throw e
    }

  /** Append one run-duration record — the reference's
    * production.py:80 `max_execution_time` surface. A SEPARATE
    * append-only log (the [[logTaskFailure]] discipline), so the
    * commit log's schema stays stable for pre-existing stores. Row:
    * (source_id, batch_id, duration_sec, status, completed_at). */
  def logRunDuration(spark: SparkSession, durationDir: String,
      sourceId: String, batchId: String, durationSec: Double,
      status: String = "SUCCESS"): Unit =
    ControlLog.append(spark.sparkContext.hadoopConfiguration, durationDir,
      durationLogSchema,
      Seq(sourceId, batchId, durationSec, status, nowMicros()))

  /** Run `body` with wall-clock stamping: the duration row is appended
    * on success AND on failure (status FAILURE — the slow-or-dead runs
    * are exactly the ones an SLA monitor must see), failures rethrow.
    * Returns (result, durationSec). Compose outermost:
    * `withRunLease(...) { timedRun(...) { loggedRun(...) { cycle } } }`. */
  def timedRun[A](spark: SparkSession, durationDir: String,
      sourceId: String, batchId: String)(body: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val result =
      try body
      catch {
        case scala.util.control.NonFatal(e) =>
          logRunDuration(spark, durationDir, sourceId, batchId,
            (System.nanoTime() - t0) / 1e9, status = "FAILURE")
          throw e
      }
    val sec = (System.nanoTime() - t0) / 1e9
    logRunDuration(spark, durationDir, sourceId, batchId, sec)
    (result, sec)
  }

  /** Runs whose wall time exceeded the SLA bound — the monitoring
    * query over the duration log for
    * [[graft.sources.PipelineConfig.PerformanceThresholds.maxExecutionSec]]. */
  def slowRuns(spark: SparkSession, durationDir: String,
      maxExecutionSec: Double): DataFrame =
    ControlLog.frame(spark, durationDir, durationLogSchema)
      .where(col("duration_sec") > maxExecutionSec)
      .select("source_id", "batch_id", "duration_sec", "status", "completed_at")

  /** SLA upper bound for the next run, derived from history like
    * [[expectedRowBounds]]: the last SUCCESS duration × (1 +
    * tolerance), tightened by the configured hard cap when one is
    * given. None with no history and no cap (first run — nothing to
    * compare against). */
  def expectedDurationBounds(spark: SparkSession, durationDir: String,
      sourceId: String, tolerance: Double = 1.0,
      slaCapSec: Option[Double] = None): Option[Double] = {
    val hist = successRows(spark, durationDir, sourceId)
      .maxByOption(_("completed_at").asInstanceOf[Long])
      .map(_("duration_sec").asInstanceOf[Double] * (1.0 + tolerance))
    (hist, slaCapSec) match {
      case (Some(h), Some(c)) => Some(math.min(h, c))
      case (h, c) => h.orElse(c)
    }
  }

  /** Recent-runs view — the reference's run-summary read over
    * etl_control.batch_runs (sql/00_master_setup.sql:65-76: per-batch
    * status + records + times), re-expressed over the three
    * append-only logs. One row per (source_id, batch_id):
    *
    *   - status: the commit row's (SUCCESS/IDLE) when one exists; a
    *     batch seen only in the failure/duration logs never committed
    *     → FAILURE (the crashed/failed-run shape — commit rows are
    *     written last, so absence IS the failure signal).
    *   - records_loaded/watermark_us from the commit log,
    *     duration_sec from the duration log, n_failures +
    *     last_error_class from the failure log (retries append one
    *     row per attempt — the count is the retry story).
    *   - event_time: the run's latest known timestamp (commit ⊔
    *     duration ⊔ last failure), newest-first sort key.
    *
    * Pure metadata joins (one row per run, bounded logs): no driver
    * collect, safe at any history length; filter on `source_id` /
    * limit downstream as needed. */
  def runHistory(spark: SparkSession, controlDir: String,
      durationDir: String = "", failureDir: String = ""): DataFrame = {
    val commits = ControlLog.frame(spark, controlDir, commitLogSchema)
      .select(col("source_id"), col("batch_id"),
        col("status").as("commit_status"),
        col("records_loaded"), col("watermark_us"), col("committed_at"))
    val durations = ControlLog.frame(spark,
        if (durationDir.isEmpty) controlDir + "/_none_" else durationDir,
        durationLogSchema)
      .groupBy("source_id", "batch_id")
      .agg(max("duration_sec").as("duration_sec"),
        max("completed_at").as("completed_at"))
    val failures = ControlLog.frame(spark,
        if (failureDir.isEmpty) controlDir + "/_none_" else failureDir,
        failureLogSchema)
      .groupBy("source_id", "batch_id")
      .agg(count(lit(1)).as("n_failures"),
        max_by(col("error_class"), col("failed_at")).as("last_error_class"),
        max("failed_at").as("last_failed_at"))
    commits
      .join(durations, Seq("source_id", "batch_id"), "full_outer")
      .join(failures, Seq("source_id", "batch_id"), "full_outer")
      .select(col("source_id"), col("batch_id"),
        coalesce(col("commit_status"), lit("FAILURE")).as("status"),
        col("records_loaded"), col("watermark_us"), col("duration_sec"),
        coalesce(col("n_failures"), lit(0L)).as("n_failures"),
        col("last_error_class"),
        greatest(col("committed_at"), col("completed_at"),
          col("last_failed_at")).as("event_time"))
      .orderBy(desc_nulls_last("event_time"), col("source_id"), col("batch_id"))
  }

  /** Per-source success rate over [[runHistory]] — the reference's
    * "how healthy is each source" summary (batch_runs status
    * breakdown). SUCCESS and IDLE both count as ok (an IDLE cycle ran
    * to completion and saw no new rows); FAILURE rows are runs that
    * never committed. */
  def successRate(spark: SparkSession, controlDir: String,
      durationDir: String = "", failureDir: String = ""): DataFrame = {
    val ok = col("status").isin("SUCCESS", "IDLE")
    runHistory(spark, controlDir, durationDir, failureDir)
      .groupBy("source_id")
      .agg(count(lit(1)).as("n_runs"),
        sum(when(col("status") === "SUCCESS", 1L).otherwise(0L)).as("n_success"),
        sum(when(col("status") === "IDLE", 1L).otherwise(0L)).as("n_idle"),
        sum(when(ok, 0L).otherwise(1L)).as("n_failed"),
        avg(when(ok, 1.0).otherwise(0.0)).as("success_rate"))
      .orderBy("source_id")
  }

  /** Task-level retry policy — the reference DAGs' `retries`
    * default_args (production.py:22, incremental_etl_dag.py:40).
    * Re-runs a LOGGED stage up to `retries` extra times: every failed
    * attempt appends its failure row (attempt-stamped stage name) and
    * the watermark cannot advance mid-attempt, so replays stay
    * exactly-once by the cycle contract; exhaustion rethrows with the
    * FAILURE rows in place. */
  def retryingRun[A](spark: SparkSession, failureDir: String,
      sourceId: String, batchId: String, stage: String, retries: Int,
      delayMs: Long = 0L,
      retryOn: Throwable => Boolean = _ => true)(body: => A): A = {
    require(retries >= 0, s"retries must be >= 0, got $retries")
    var attempt = 0
    while (true) {
      val stamped = if (attempt == 0) stage else s"$stage#retry$attempt"
      try return loggedRun(spark, failureDir, sourceId, batchId, stamped)(body)
      catch {
        // a non-retryable failure still gets its FAILURE row (loggedRun
        // appended it before rethrowing) — it just surfaces immediately
        // instead of re-running a deterministic failure `retries` times
        case scala.util.control.NonFatal(e) =>
          if (!retryOn(e)) throw e
          attempt += 1
          if (attempt > retries) throw e
          if (delayMs > 0) Thread.sleep(delayMs)
      }
    }
    throw new IllegalStateException("unreachable")
  }

  /** Row-count bounds for the next batch derived from the control
    * log's history (the "row-count delta vs prior batch" gate the
    * reference checks by hand): bounds are the last SUCCESS batch's
    * records_loaded ± tolerance. IDLE commits (cycles that saw no new
    * rows — see [[runIncrementalCycle]]) are excluded, so a quiet
    * period cannot poison the bounds; the watermark+commit-time sort
    * is deterministic under replayed-boundary ties. Returns None when
    * no history exists (first batch — nothing to compare against).
    * Feed the result to [[Validate.RowCountBetween]]. */
  def expectedRowBounds(spark: SparkSession, controlDir: String,
      sourceId: String, tolerance: Double = 0.5): Option[(Long, Long)] =
    successRows(spark, controlDir, sourceId)
      .maxByOption(r => (r("watermark_us").asInstanceOf[Long],
        r("committed_at").asInstanceOf[Long]))
      .map { r =>
        val n = r("records_loaded").asInstanceOf[Long].toDouble
        (math.floor(n * (1 - tolerance)).toLong,
          math.ceil(n * (1 + tolerance)).toLong)
      }

  /** Diff-driven FULL-SNAPSHOT cycle: the reference's full-load
    * sources (shopee full_load DAG) rewrite their whole target every
    * run whether anything changed or not. This cycle diffs the
    * incoming snapshot against the live target
    * ([[Incremental.snapshotDiff]] — one full-outer shuffle), applies
    * the delta only when one exists, and commits the CHANGE COUNT to
    * the control log: an unchanged snapshot is an IDLE commit with
    * ZERO target writes (files stay byte-identical — asserted in
    * EtlControlSpec), and the log's records_loaded now measures real
    * churn, so [[expectedRowBounds]] gates on "how much changed",
    * which is the quantity that signals an upstream incident. Returns
    * (inserts, updates, deletes).
    *
    * `expectations` gates the snapshot as in [[runIncrementalCycle]]:
    * a failure throws [[Validate.ValidationException]] before the
    * target is touched. On the bootstrap its counters replace the row
    * count the commit needs; after that they run as one aggregate
    * ahead of the diff. */
  def runSnapshotCycle(spark: SparkSession, controlDir: String,
      sourceId: String, snapshot: DataFrame, keys: Seq[String],
      targetDir: String, batchId: String,
      expectations: Seq[Validate.Expectation] = Nil): (Long, Long, Long) = {
    // the gate's counters include the row count, so the bootstrap's
    // count is the gate's aggregate
    val gate = Validate.counters(expectations)
    def gated(): Long = {
      val row = snapshot.agg(gate.head, gate.tail: _*).head()
      Validate.requirePassed(s"$sourceId/$batchId",
        Validate.verdicts(expectations, row, 0))
      row.getLong(0)
    }
    if (!nonEmptyDir(spark, targetDir)) {
      val n = gated()
      ParquetSink.atomicReplace(spark, targetDir)(
        staging => snapshot.write.parquet(staging))
      commitRun(spark, controlDir, sourceId, batchId,
        watermarkUs = 0L, recordsLoaded = n, status = "SUCCESS")
      return (n, 0L, 0L)
    }
    if (expectations.nonEmpty) gated()
    val target = ParquetMeta.readParquet(spark, targetDir)
    val diff = Incremental.snapshotDiff(target, snapshot, keys).persist()
    try {
      val counts = diff.groupBy("change_op").count().collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      val (ins, upd, del) = (counts.getOrElse("insert", 0L),
        counts.getOrElse("update", 0L), counts.getOrElse("delete", 0L))
      val churn = ins + upd + del
      if (churn > 0)
        // the new target IS the snapshot (it's a full load); the diff
        // decided WHETHER to write, and its counts are the audit record
        ParquetSink.atomicReplace(spark, targetDir)(
          staging => snapshot.write.parquet(staging))
      commitRun(spark, controlDir, sourceId, batchId, watermarkUs = 0L,
        recordsLoaded = churn, status = if (churn > 0) "SUCCESS" else "IDLE")
      (ins, upd, del)
    } finally { diff.unpersist(); () }
  }

  /** Self-driving incremental DEDUP-CLUSTER cycle: fold a delivered
    * near-dup pair batch into the persisted (node, component)
    * assignment ([[DupGroups.updateClusters]] — only components the
    * batch touches are rebuilt), publish atomically, commit the batch
    * to the control log. Exactly-once under at-least-once delivery,
    * two ways: a batch id already committed SUCCESS is skipped without
    * running a job, and a crash-window replay (published assignment,
    * missing commit) re-folds the same pairs — a no-op by
    * updateClusters' replay idempotence (DupGroupsSpec). The prior
    * assignment is read from parquet, satisfying updateClusters'
    * materialized-input contract. Returns (nAssignments, applied). */
  def runDedupCycle(spark: SparkSession, controlDir: String,
      sourceId: String, pairs: DataFrame, aCol: String, bCol: String,
      assignDir: String, batchId: String, watermarkUs: Long = 0L,
      failBeforeCommit: Boolean = false): (Long, Boolean) = {
    if (successRows(spark, controlDir, sourceId)
        .exists(_("batch_id") == batchId))
      return (ParquetMeta.readParquet(spark, assignDir).count(), false)
    // the presence test runs inside the replace, after its crash
    // recovery has restored an assignment left aside by an interrupted
    // swap
    ParquetSink.atomicReplace(spark, assignDir) { staging =>
      val updated =
        if (!nonEmptyDir(spark, assignDir))
          DupGroups.connectedComponents(pairs, aCol, bCol)
        else
          DupGroups.updateClusters(ParquetMeta.readParquet(spark, assignDir), pairs,
            aCol, bCol)
      // once staged, the assignment is durably in parquet — free the CC
      // result's reliable-checkpoint files, or a per-cycle caller (the
      // streaming continuousDedup path) grows the checkpoint store one
      // snapshot per batch forever
      try updated.write.parquet(staging)
      finally CacheRegistry.freeReliableCheckpoints(updated)
    }
    val n = ParquetMeta.readParquet(spark, assignDir).count()
    if (!failBeforeCommit)
      commitRun(spark, controlDir, sourceId, batchId, watermarkUs, n)
    (n, true)
  }

  /** Self-driving exactly-once APPEND cycle over a doc-id watermark,
    * for stores that only grow ([[LshArtifact]], [[PostingsArtifact]]):
    * read the watermark (−1 before the first commit) → the docs
    * strictly above it (ids are unique, so no boundary replay is
    * needed) → `append(delta, wm)`, which writes the rows the store
    * does not hold yet ([[Incremental.newRows]] with a `> wm` window)
    * and returns how many it counts as written → commit max(delta id).
    * Returns that count, 0 without a job past the aggregate when no doc
    * is above the watermark.
    *
    * Append-then-commit: a crash between them replays the window, and
    * the guarded append turns the replay into appending only what the
    * torn run missed. A replay that writes nothing still commits, so
    * the watermark moves past it. `failBeforeCommit` stops before the
    * commit — the worst-ordered crash, for the exactly-once specs. */
  private[graft] def runAppendCycle(spark: SparkSession, controlDir: String,
      sourceId: String, batchId: String, docs: DataFrame, idCol: String,
      failBeforeCommit: Boolean)(append: (DataFrame, Long) => Long): Long = {
    val wm = lastWatermarkMicros(spark, controlDir, sourceId, -1L)
    val delta = docs.where(col(idCol) > wm)
    val stats = delta.agg(count(lit(1)), max(col(idCol).cast("long"))).head()
    if (stats.getLong(0) == 0L) return 0L
    val written = append(delta, wm)
    if (!failBeforeCommit)
      commitRun(spark, controlDir, sourceId, batchId,
        watermarkUs = stats.getLong(1), recordsLoaded = written)
    written
  }

  /** One self-driving incremental cycle against a parquet target:
    * read watermark → MERGE the window into the target (staged atomic
    * swap), counting the window stats and the quality gate in the
    * MERGE's own write → commit new watermark. Returns
    * (newWatermarkUs, deltaRows).
    *
    * One Spark pass per window: the window's row count, its max ts and
    * its rows above the prior watermark, and the counters of
    * `expectations`, are aggregates observed in the MERGE write (see
    * [[Incremental.Gate]]), after the keep-last exchange, in the
    * write's result stage: Spark applies a result task's accumulator
    * updates once per partition, so a re-run task or stage counts
    * nothing twice. Target rows pass through the same operator, so
    * every counter conditions on the row coming from `source`.
    *
    * `expectations` is the batch's quality gate over the whole
    * `source`, not just the window — the reference validates a loaded
    * batch before it loads it (misa_crm_loader.py:1021). With
    * expectations the MERGE reads all of `source`, and the rows outside
    * the window travel through the write as ineligible rows: the gate
    * counts them, but they never win a key and are never written.
    * Without, it reads only the pushed-down window. A [[Validate.Unique]]
    * on a column other than the sole merge key cannot be counted exactly
    * in that write, so it alone runs as one aggregate before the MERGE
    * ([[Validate.inMerge]]). A failed expectation throws
    * [[Validate.ValidationException]] after the staged write and before
    * the target is published: the staged copy is deleted, and the
    * target and the control log stay as they were.
    *
    * A window with no rows publishes nothing and commits IDLE at the
    * same watermark. `knownEmpty` says the caller knows `source` has no
    * rows (a landing that received none); the cycle then runs no Spark
    * job at all and checks the gate against an empty source's counts.
    *
    * `failBeforeCommit` is a crash-injection hook for the
    * exactly-once spec: it stops after the target is published but
    * before the watermark commit — the worst-ordered crash, which the
    * next cycle must absorb by replaying the window. */
  def runIncrementalCycle(spark: SparkSession, controlDir: String,
      sourceId: String, source: DataFrame, tsCol: String,
      keys: Seq[String], targetDir: String, defaultWatermarkUs: Long,
      batchId: String, failBeforeCommit: Boolean = false,
      expectations: Seq[Validate.Expectation] = Nil,
      knownEmpty: Boolean = false): (Long, Long) = {
    val wm = lastWatermarkMicros(spark, controlDir, sourceId, defaultWatermarkUs)
    val batch = s"$sourceId/$batchId"
    val (nRows, newWm, nNew) =
      if (knownEmpty) {
        // every counter of an empty source reads 0
        Validate.requirePassed(batch, Validate.verdicts(expectations,
          Row.fromSeq(Seq.fill(expectations.length + 1)(0L)), 0))
        (0L, wm, 0L)
      } else {
        // the gate reads the watermark from generated code's references,
        // so a cycle with a new watermark reuses the compiled classes
        val wmParam = ExpressionColumn(LongParam(wm))
        val inWindow = col(tsCol) >= timestamp_micros(wmParam)
        val ts = unix_micros(col(tsCol))
        val windowStats = Seq(
          count(when(Incremental.fromUpdates && inWindow, 1)).as("n"),
          max(when(Incremental.fromUpdates && inWindow, ts)).as("mx"),
          count(when(Incremental.fromUpdates && ts > wmParam, 1)).as("nNew"))
        val (gate, verdicts) =
          if (expectations.isEmpty) (Nil, (_: Row, _: Int) => Nil)
          else Validate.inMerge(source, keys, expectations)
        val stats = Incremental.mergeInto(spark, targetDir,
          // literal timestamp predicate on the scan column → PushedFilters
          if (gate.isEmpty) source.where(col(tsCol) >= timestamp_micros(lit(wm)))
          else source, keys,
          Seq(col(tsCol)), Some(Incremental.Gate(inWindow, windowStats ++ gate,
            publish = { row =>
              Validate.requirePassed(batch, verdicts(row, windowStats.length))
              row.getLong(0) > 0
            }))).get
        (stats.getLong(0), if (stats.isNullAt(1)) wm else stats.getLong(1),
          stats.getLong(2))
      }
    // a cycle that saw only the replayed boundary rows commits as IDLE:
    // audit-visible, but excluded from the watermark read and from
    // expectedRowBounds (an idle period must not poison the row-count
    // gate or tie-break against the real prior batch)
    val status = if (nNew > 0) "SUCCESS" else "IDLE"
    if (!failBeforeCommit)
      // records_loaded = rows strictly above the prior watermark: the
      // replayed inclusive-boundary rows are MERGE no-ops, and counting
      // them would inflate the baseline expectedRowBounds derives for
      // the next batch's row-count gate
      commitRun(spark, controlDir, sourceId, batchId, newWm, nNew, status)
    (newWm, nRows)
  }
}
