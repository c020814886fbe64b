package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.sources.{PagedRestSource, PipelineConfig, TokenAuth}

/** The composed pipeline entry points — the reference's whole DAG as
  * ONE call over the typed config.
  *
  * Reference: incremental_etl_dag.py:446-533 (three per-source
  * extract → transform → load chains under max_active_runs = 1,
  * schedule/retry policy from production config) and
  * full_load_etl_dag.py:455-525 (same 3-task structure with
  * CROSS-SOURCE ordering: `start >> shopee >> [misa, tiktok] >> end` —
  * the FK-owning source loads before its dependents).
  *
  * Every stage already exists as a tested operator; this file only
  * composes them, so the composed driver inherits each stage's
  * correctness contract:
  *   - mutual exclusion: [[EtlControl.withRunLease]] (one lease for
  *     the whole pipeline run = the DAG's max_active_runs = 1);
  *   - extract: [[PagedRestSource.fetchToLandingAuthed]] with the
  *     source's own page/retry/token knobs from [[PipelineConfig]];
  *   - transform: the caller's landing→typed frame function (the
  *     per-source transformer — schema is source-specific, so it is
  *     wiring, not config);
  *   - validate + load + watermark: [[EtlControl.runIncrementalCycle]]
  *     (MERGE + exactly-once commit) or [[EtlControl.runSnapshotCycle]]
  *     (full replace), both staged-atomic. Each takes the source's
  *     expectations and computes their [[Validate]] counters in a pass
  *     it runs anyway (the MERGE write, the bootstrap row count); a
  *     failed expectation throws [[Validate.ValidationException]]
  *     BEFORE the load is published to the target (the reference's
  *     validate-then-load task order);
  *   - failure/duration logs: [[EtlControl.timedRun]] +
  *     [[EtlControl.retryingRun]] with the schedule's retry policy.
  *
  * Source concurrency: the reference's chains are parallel Airflow
  * tasks, and so are these — each source's chain runs on its own
  * fresh daemon thread (see [[runIncremental]] for the measured
  * rationale). Two invariants of the one-source-at-a-time loop are
  * kept by construction: concurrent appends to a shared
  * control/duration/failure log never lose a row (each is its own file,
  * published by rename — see [[ControlLog]]), and the caller's
  * [[SourceRunner]] callbacks never run at the same time.
  * The fan-out is per-SOURCE (one thread each), never per-row; all
  * data movement stays inside the composed Spark jobs.
  */
object Pipeline {

  /** A source's batch failed its quality gate. */
  type ValidationException = Validate.ValidationException

  /** Per-source wiring the typed config cannot carry: the transport,
    * its credential lifecycle, the landing→typed transform, and the
    * target layout.
    *
    * Callback contract: within one [[runIncremental]] / [[runFullLoad]]
    * call the sources' chains run concurrently, but `fetch` and
    * `transform` calls — of every runner in the call — never overlap:
    * one lock per pipeline call is held around each of them, so
    * callbacks written for one-at-a-time calls stay correct. Only the
    * Spark jobs of different sources overlap. The `provider` is not
    * under that lock: each provider serializes its own refreshes, but
    * the `refreshFn`s of different sources' providers may run at the
    * same time as each other and as another source's `fetch`. */
  final case class SourceRunner(
      fetch: (Option[String], TokenAuth.Token) => PagedRestSource.Page,
      provider: TokenAuth.CredentialProvider,
      transform: DataFrame => DataFrame,
      tsCol: String,
      keys: Seq[String],
      expectations: Seq[Validate.Expectation] = Nil)

  /** One source's cycle outcome. */
  final case class CycleResult(sourceId: String, pages: Long,
      landedRows: Long, watermarkUs: Long, loadedRows: Long,
      wallSec: Double)

  /** One incremental pipeline run: every configured source runs
    * extract → transform → validate → MERGE-load → watermark commit,
    * leased, timed, and retried per the config's schedule policy —
    * all sources at once, as the reference DAG's parallel chains.
    *
    * Why concurrently: a 15-minute window is small, so a cycle is a
    * run of small Spark jobs whose cost is the per-job scheduling floor
    * and Spark-driver file work, not data. Measured on the perfbench
    * `etl_incremental` workload (local[4], 4-core host), when a cycle
    * was 45 jobs, the chains run back to back kept the cores busy 8.0%
    * of the cycle and left 3.0 s of a 6.5 s cycle covered by no job.
    * Overlapping them ran the same 45 jobs with the cores busy 19.9%
    * and 0.9 s uncovered, and the median cycle dropped from 6.47 s to
    * 3.70 s (10/10 alternating pairs). A cycle is now 6 jobs (2 per
    * source: the MERGE write's keep-last shuffle and the write itself,
    * which also counts the window stats and the quality gate — see
    * [[EtlControl.runIncrementalCycle]]). Moving those counters out of
    * their own 3-job aggregate into the write took the same workload
    * from 15 to 6 jobs per cycle, and the median cycle from 1.26 s to
    * 0.94 s, with CPU per cycle from 4.62 to 3.53 s (10/10 alternating
    * pairs). The landing write, the control-log appends and reads and
    * the schema of the landing and target reads cost no job (see
    * [[PagedRestSource]] and [[EtlControl]]), and a source whose
    * landing received no rows runs none at all. The
    * gain depends on that property —
    * job-floor-bound cycles over small windows. Large windows, whose
    * jobs fill the cluster on their own, are unmeasured: there the
    * overlap runs the sources' MERGE rewrites and snapshot-diff
    * shuffles side by side, which may raise peak memory and spill.
    *
    * The call returns once every chain has ended — the lease is held
    * until then — with results in config order. A failed chain does
    * not stop its siblings (their loads and commits stand, as with
    * independent DAG tasks); the first failure in config order is
    * rethrown with any later ones attached as suppressed.
    *
    * Exactly-once under crash replay comes from the stages: landing is
    * per-extraction scratch (overwritten), the MERGE replays its
    * watermark window idempotently, and the commit is the last step —
    * re-running a crashed batch id converges (spec'd in
    * PipelineSpec with a failBeforeCommit crash). */
  def runIncremental(spark: SparkSession, cfg: PipelineConfig.Resolved,
      runners: Map[String, SourceRunner], workDir: String, batchId: String,
      holderId: String = "pipeline", defaultWatermarkUs: Long = 0L,
      leaseTtlMs: Long = 3600000L,
      failBeforeCommit: Set[String] = Set.empty): Seq[CycleResult] =
    EtlControl.withRunLease(spark, cfg.controlDir, "incremental_pipeline",
        holderId, ttlMs = leaseTtlMs) {
      val serialized = callbacksSerialized(runners)
      concurrently(cfg.sources.filter(s => runners.contains(s.id)).map { src =>
        src.id -> (() => runSource(spark, cfg, src, serialized(src.id),
          workDir, batchId, defaultWatermarkUs,
          failBeforeCommit.contains(src.id)))
      })
    }

  /** One full-load pipeline run with the reference's CROSS-SOURCE
    * stage order (full_load_etl_dag.py:525 — `shopee >> [misa,
    * tiktok]`): `stages` is a sequence of source-id groups; a group
    * only starts after every load of the previous group committed, and
    * the sources inside a group run concurrently (failures as in
    * [[runIncremental]]; a failed group stops the run). Each
    * source runs extract → transform → validate → snapshot replace
    * ([[EtlControl.runSnapshotCycle]] — write-once bootstrap, then
    * diff-gated full replace). */
  def runFullLoad(spark: SparkSession, cfg: PipelineConfig.Resolved,
      runners: Map[String, SourceRunner], workDir: String, batchId: String,
      stages: Seq[Seq[String]], holderId: String = "pipeline",
      leaseTtlMs: Long = 3600000L): Seq[CycleResult] = {
    val known = cfg.sources.map(_.id).toSet
    val asked = stages.flatten
    require(asked.nonEmpty && asked.distinct == asked &&
      asked.forall(known), s"stages must name distinct configured " +
      s"sources; got $asked of $known")
    // fail BEFORE the lease and before any source loads — a stage id
    // with no runner must not surface mid-run after earlier groups
    // already replaced their targets
    require(asked.forall(runners.contains),
      s"every staged source needs a runner; missing: " +
        asked.filterNot(runners.contains).mkString(", "))
    EtlControl.withRunLease(spark, cfg.controlDir, "full_load_pipeline",
        holderId, ttlMs = leaseTtlMs) {
      val serialized = callbacksSerialized(runners)
      stages.flatMap(group => concurrently(group.map { id =>
        id -> (() => runSource(spark, cfg, cfg.source(id), serialized(id),
          workDir, batchId, defaultWatermarkUs = 0L,
          failBeforeCommit = false, fullLoad = true))
      }))
    }
  }

  /** The runners with one shared lock around every `fetch` and
    * `transform` call — the [[SourceRunner]] callback contract. */
  private def callbacksSerialized(
      runners: Map[String, SourceRunner]): Map[String, SourceRunner] = {
    val lock = new Object
    runners.map { case (id, r) =>
      id -> r.copy(
        fetch = (cursor, tok) => lock.synchronized(r.fetch(cursor, tok)),
        transform = df => lock.synchronized(r.transform(df)))
    }
  }

  /** Run each named chain on its own fresh daemon thread — fresh, so it
    * inherits the caller's Spark local properties (job group, scheduler
    * pool, tags) as they are now — and wait for all of them. Returns
    * the results in input order, or rethrows the first failure in
    * input order with the later ones suppressed. An interrupt of the
    * caller is passed on to the chains and rethrown once they ended. */
  private def concurrently[A](chains: Seq[(String, () => A)]): Seq[A] = {
    val outcomes = new Array[Either[Throwable, A]](chains.length)
    val threads = chains.zipWithIndex.map { case ((name, chain), i) =>
      val t = new Thread(() =>
        outcomes(i) = try Right(chain()) catch { case e: Throwable => Left(e) },
        s"graft-pipeline-$name")
      t.setDaemon(true)
      t.start()
      t
    }
    var interrupt: InterruptedException = null
    for (t <- threads) while (t.isAlive)
      try t.join()
      catch {
        case e: InterruptedException =>
          if (interrupt == null) threads.foreach(_.interrupt())
          interrupt = e
      }
    if (interrupt != null) throw interrupt
    val failures = outcomes.toSeq.collect { case Left(e) => e }
    failures.headOption.foreach { first =>
      failures.tail.filter(_ ne first).foreach(first.addSuppressed)
      throw first
    }
    outcomes.toSeq.collect { case Right(a) => a }
  }

  private def runSource(spark: SparkSession, cfg: PipelineConfig.Resolved,
      src: PipelineConfig.SourceConfig, runner: SourceRunner,
      workDir: String, batchId: String, defaultWatermarkUs: Long,
      failBeforeCommit: Boolean, fullLoad: Boolean = false): CycleResult = {
    val failureDir = s"$workDir/failures"
    val landingDir = s"$workDir/landing/${src.id}"
    val targetDir = s"$workDir/target/${src.id}"
    val ((pages, landed, wm, loaded), sec) =
      EtlControl.timedRun(spark, s"$workDir/durations", src.id, batchId) {
        EtlControl.retryingRun(spark, failureDir, src.id, batchId, "cycle",
            retries = cfg.schedule.retries,
            // a failed expectation is deterministic — retrying it would
            // re-hit the external API and re-transform for nothing
            retryOn = !_.isInstanceOf[ValidationException]) {
          // extract — the source's own page/retry caps
          val (p, landedRows) = PagedRestSource.fetchToLandingAuthed(spark,
            runner.fetch, runner.provider, landingDir,
            maxPages = src.maxPagesPerCycle, maxRetries = src.retryAttempts)
          // transform
          val typed = runner.transform(
            PagedRestSource.readLanding(spark, landingDir))
          // validate + load + watermark commit: the cycle checks the gate
          // and throws before the target is published
          if (fullLoad) {
            val (ins, upd, del) = EtlControl.runSnapshotCycle(spark,
              cfg.controlDir, src.id, typed, runner.keys, targetDir, batchId,
              runner.expectations)
            (p, landedRows, 0L, ins + upd + del)
          } else {
            val (newWm, rows) = EtlControl.runIncrementalCycle(spark,
              cfg.controlDir, src.id, typed, runner.tsCol, runner.keys,
              targetDir, defaultWatermarkUs, batchId,
              failBeforeCommit = failBeforeCommit,
              expectations = runner.expectations,
              knownEmpty = landedRows == 0)
            (p, landedRows, newWm, rows)
          }
        }
      }
    CycleResult(src.id, pages, landed, wm, loaded, sec)
  }
}
