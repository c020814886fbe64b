package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Row, SaveMode, SparkSession}
import org.apache.spark.sql.streaming.{DataStreamWriter, GroupState, GroupStateTimeout, OutputMode}

import graft.operators.{CacheRegistry, EtlControl, Incremental, TextDedup}
import graft.sources.ParquetMeta

/** The reference's 15-minute incremental micro-batch DAG
  * (dags/incremental_etl_dag.py) re-expressed as Structured Streaming:
  * a continuously-maintained keep-last-per-key view of an update feed.
  *
  * State is one row per business key (the current winner), partitioned
  * by key across executors — the streaming analogue of the batch
  * keep-last window in [[graft.operators.Dedup]]. Emits a record only
  * when the key's winner changes (upsert semantics for a downstream
  * sink in OutputMode.Update).
  */
object StreamingDedup {

  case class Upd(key: Long, seq: Long, status: String, amount: Double)

  def keepLastStream(spark: SparkSession, updates: Dataset[Upd]): Dataset[Upd] = {
    import spark.implicits._
    updates
      .groupByKey(_.key)
      .mapGroupsWithState[Upd, Upd](GroupStateTimeout.NoTimeout) {
        (_: Long, rows: Iterator[Upd], state: GroupState[Upd]) =>
          val incoming = rows.maxBy(_.seq)
          val winner = state.getOption match {
            case Some(cur) if cur.seq >= incoming.seq => cur
            case _ => incoming
          }
          state.update(winner)
          winner
      }
  }

  /** Windowed per-type rollup with a watermark — the streaming form of
    * Stats.batchStats (late data beyond the watermark is dropped,
    * state is bounded). */
  def windowedCounts(spark: SparkSession,
      events: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions._
    events
      .withWatermark("ts", "1 hour")
      .groupBy(window(col("ts"), "1 day"), col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        sum(col("value").cast("decimal(18,2)")).cast("double").as("total_value"))
  }

  /** Windowed quantile rollup: `percentile_approx`'s mergeable
    * quantile sketch held as streaming state — each micro-batch folds
    * its rows into the per-(window, key) sketch and the sketches MERGE
    * across batches, so emitted quantiles reflect every row the window
    * has seen, not the last batch (asserted against batch percentiles
    * over the full feed in StreamingDedupSpec). The streaming twin of
    * q32's high-cardinality scale path: fixed-size state per group
    * regardless of row volume, bounded group count via the watermark. */
  def windowedQuantiles(events: org.apache.spark.sql.DataFrame,
      accuracy: Int = 10000): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions._
    events
      .withWatermark("ts", "1 hour")
      .groupBy(window(col("ts"), "1 day"), col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        percentile_approx(col("value"), lit(0.5), lit(accuracy)).as("p50"),
        percentile_approx(col("value"), lit(0.95), lit(accuracy)).as("p95"))
  }

  /** Streaming exact-dedup on a business key with bounded state:
    * duplicates arriving within the watermark horizon are dropped,
    * state for older keys is evicted — the streaming analogue of the
    * loader's per-batch drop_duplicates, safe to run forever. */
  def dedupWithinWatermark(events: org.apache.spark.sql.DataFrame,
      keyCols: Seq[String], tsCol: String,
      watermark: String = "1 hour"): org.apache.spark.sql.DataFrame =
    events
      .withWatermark(tsCol, watermark)
      .dropDuplicatesWithinWatermark(keyCols)

  /** Gap-based streaming sessionization — the streaming twin of the
    * batch operator ([[graft.operators.Sessionize]], q27), via
    * Spark's native `session_window`: per-key sessions grow while
    * events keep arriving within `gap` of each other and close when
    * the watermark passes last-event + gap. Append mode emits each
    * session exactly once, finalized; state is bounded by the
    * watermark horizon. At scale this is one shuffle on the session
    * key — the same cost shape as the batch window formulation. */
  def sessionizeStream(events: org.apache.spark.sql.DataFrame,
      gap: String = "30 minutes", watermark: String = "1 hour",
      keyCol: String = "user_id", tsCol: String = "ts")
      : org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions._
    events
      .withWatermark(tsCol, watermark)
      .groupBy(session_window(col(tsCol), gap), col(keyCol))
      .agg(count(lit(1)).as("n_events"),
        sum(col("value").cast("decimal(18,2)")).cast("double").as("total_value"))
      .select(col(keyCol),
        col("session_window.start").as("session_start"),
        col("session_window.end").as("session_end"),
        col("n_events"), col("total_value"))
  }

  /** Stream-stream interval join: each left row matches right rows
    * with the same key whose timestamp lies in
    * [leftTs + lowerBound, leftTs + upperBound]. BOTH sides carry
    * watermarks and the join condition bounds event time in both
    * directions, so Spark derives a state-eviction horizon for each
    * side — state is bounded, the join runs forever (the streaming
    * form of the batch as-of/attribution lookup; e.g. orders joined
    * to the click events that preceded them by ≤ 1 hour). Append
    * mode: a match emits once both watermarks pass it. */
  def intervalJoin(leftStream: org.apache.spark.sql.DataFrame,
      rightStream: org.apache.spark.sql.DataFrame,
      key: String, leftTs: String, rightTs: String,
      lowerBound: String, upperBound: String,
      watermark: String = "1 hour"): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions._
    val l = leftStream.withWatermark(leftTs, watermark).alias("l")
    val r = rightStream.withWatermark(rightTs, watermark).alias("r")
    l.join(r,
      col(s"l.$key") === col(s"r.$key") &&
        col(s"r.$rightTs") >= col(s"l.$leftTs") + expr(s"INTERVAL $lowerBound") &&
        col(s"r.$rightTs") <= col(s"l.$leftTs") + expr(s"INTERVAL $upperBound"))
      .drop(col(s"r.$key"))
  }

  /** CONTINUOUS-INGEST near-dup maintenance: every micro-batch of new
    * documents is (1) idempotently appended to the corpus lake table,
    * then (2) folded through
    * [[graft.operators.LshArtifact.dailyDedupRun]] — sign the new
    * docs into the persisted band-bucket artifact, probe it for
    * candidates touching the batch, verify, and fold the pair batch
    * into the persisted (node, component) assignment exactly-once.
    *
    * The streaming at-least-once hazard (foreachBatch re-delivers a
    * batch after a crash) is absorbed by layers that are each
    * idempotent already: the corpus append and artifact append are
    * anti-join-guarded, and the control log skips a fully-committed
    * batch id without running a job — so redelivery is a no-op, and
    * the maintained assignment equals what one big batch rebuild over
    * the same documents would say (asserted in StreamingDedupSpec).
    *
    * The corpus append's guard is [[graft.operators.Incremental.newRows]]
    * on the doc id. For integral ids a per-run id high-water mark skips
    * it for every batch wholly above the corpus (the monotone-arrival
    * contract below), and a redelivered batch falls back to the guard
    * over the batch's `id BETWEEN min AND max` window; other id types
    * guard over the whole corpus.
    *
    * Per-batch cost is batch-sized + candidate-sized, never
    * corpus-sized: signatures are computed only for the batch (the
    * artifact watermark), and verification shingles only candidate
    * docs (semi-join narrowed). Start with
    * `.trigger(...)`/`.option("checkpointLocation", ...)` as usual. */
  def continuousDedup(docs: org.apache.spark.sql.DataFrame,
      corpusDir: String, controlDir: String, artifactDir: String,
      assignDir: String, sourceId: String, idCol: String, textCol: String,
      threshold: Double = 0.5, numPerm: Int = 64, bands: Int = 16,
      shingleN: Int = 3):
      org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] = {
    // per-RUN corpus id high-water mark (foreachBatch runs on the
    // driver; one closure instance per started query): initialized
    // with ONE corpus max scan on the run's first guarded batch, then
    // maintained incrementally — so the steady-state append guard is
    // O(batch), never O(store) (the r13 store-growth decomposition
    // found the full-corpus guard scan was the growth term). The HWM
    // only ever overshoots (max of batch maxima ≥ true corpus max),
    // which can only force the guarded fallback, never a wrong skip —
    // PROVIDED this query is the corpusDir's ONLY writer while it runs.
    // SINGLE-WRITER CONTRACT: an external append (a batch
    // dailyDedupRun, a second streaming query on the same store) can
    // land ids above this run's cached HWM, and a later batch reusing
    // those ids would skip the guard and append duplicates. Exclusive
    // ownership of corpusDir for the lifetime of the query is part of
    // the monotone-arrival contract (acquireRunLease in EtlControl is
    // the repo's mutual-exclusion primitive for enforcing it).
    var corpusHwm: Option[Long] = None
    var hwmInit = false
    docs.writeStream.outputMode("append").foreachBatch {
      (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], id: Long) =>
        val spark = batch.sparkSession
        import org.apache.spark.sql.functions.{col, lit, max, min}
        val corpusExists = EtlControl.nonEmptyDir(spark, corpusDir)
        // the guard only drops ids ALREADY IN the corpus;
        // duplicate ids arriving within one micro-batch (routine under
        // at-least-once sources) would all survive it and append
        // duplicate corpus rows + 2x band rows per doc into the
        // artifact — dedupe the batch itself first
        val batchDistinct = batch.dropDuplicates(Seq(idCol))
        // the id-range window is exact only for integral ids (a cast in
        // the corpus-side filter would defeat pushdown and, for
        // strings, change comparison semantics) — others guard over
        // the whole corpus
        val idIsIntegral = batch.schema(idCol).dataType match {
          case org.apache.spark.sql.types.LongType |
               org.apache.spark.sql.types.IntegerType |
               org.apache.spark.sql.types.ShortType |
               org.apache.spark.sql.types.ByteType => true
          case _ => false
        }
        val guarded =
          if (!idIsIntegral) Incremental.newRows(spark, corpusDir,
            batchDistinct, Seq(idCol))
          else if (!corpusExists) batchDistinct
          else {
            if (!hwmInit) {
              corpusHwm = ParquetMeta.readParquet(spark, corpusDir)
                .agg(max(col(idCol).cast("long"))).head() match {
                  case r if r.isNullAt(0) => None
                  case r => Some(r.getLong(0))
                }
              hwmInit = true
            }
            val mm = batchDistinct.agg(min(col(idCol).cast("long")),
              max(col(idCol).cast("long"))).head()
            if (mm.isNullAt(0)) batchDistinct // no non-null ids: null
            // keys never equi-match an anti join — same rows either way
            else {
              val (bMin, bMax) = (mm.getLong(0), mm.getLong(1))
              // skip decision against the PRE-batch HWM; then raise it
              val allNew = corpusHwm.forall(_ < bMin)
              corpusHwm = Some(corpusHwm.fold(bMax)(math.max(_, bMax)))
              if (allNew) batchDistinct
              else Incremental.newRows(spark, corpusDir, batchDistinct,
                Seq(idCol), col(idCol).between(lit(bMin), lit(bMax)))
            }
          }
        val appended = !guarded.isEmpty
        if (appended)
          // range-sorted append: each written file carries a tight,
          // disjoint id range (AQE coalesces small batches to few
          // files), so every later `id > wm` / `id BETWEEN` read of
          // this store zone-prunes at the footer instead of scanning
          // every file — the lever that keeps the per-batch store
          // touches batch-sized as the corpus grows to lake scale
          guarded.repartitionByRange(col(idCol))
            .sortWithinPartitions(idCol)
            .write.mode(org.apache.spark.sql.SaveMode.Append)
            .parquet(corpusDir)
        // an EMPTY first batch (routine under ProcessingTime triggers
        // and restarts) leaves corpusDir nonexistent — there is nothing
        // to dedup yet, and reading the unwritten path would kill the
        // stream
        if (corpusExists || appended)
          graft.operators.LshArtifact.dailyDedupRun(spark, controlDir,
            artifactDir, assignDir, sourceId,
            ParquetMeta.readParquet(spark, corpusDir), idCol, textCol,
            batchId = s"stream-$id", threshold = threshold,
            numPerm = numPerm, bands = bands, shingleN = shingleN)
        ()
    }
  }

  /** CONTINUOUS sub-document (chunk) span dedup: each micro-batch's
    * documents are chunk-deduped against a persisted chunk-hash store
    * ([[graft.operators.TextDedup.chunkDedupAgainst]]) and appended to
    * the deduped output table; the store then absorbs the batch's
    * hashes. Per-batch cost is batch-chunks + one hash-equi join
    * against the store — never corpus-sized recompute.
    *
    * Equals the batch operator over the whole corpus when documents
    * arrive in doc-id order (the corpus-growth shape — ids are
    * monotone): a chunk seen by ANY earlier batch precedes every later
    * (id, pos) occurrence, so "absent from store + batch-first" is
    * exactly the global first-occurrence rule. Asserted in
    * StreamingDedupSpec.
    *
    * At-least-once replay: output append is doc-id-guarded; the store
    * append is hash-guarded and rows carry the introducing doc id, so
    * a crash BETWEEN store append and output append (the torn window)
    * is healed on redelivery by excluding store rows introduced by the
    * to-be-reprocessed docs — the batch replays against exactly the
    * pre-crash prior. The reverse tear (output landed, store did not)
    * heals because the store append recomputes from the full delivered
    * batch, not the guarded remainder. */
  def continuousChunkDedup(docs: DataFrame,
      outDir: String, storeDir: String, idCol: String, textCol: String,
      chunkTokens: Int = 10): DataStreamWriter[Row] =
    continuousSpanDedup(docs, outDir, storeDir, idCol, "chunk_hash")(
      TextDedup.chunkHashes(_, idCol, textCol, chunkTokens),
      TextDedup.chunkDedupAgainst(_, idCol, textCol, chunkTokens, _),
      _ => ())

  /** CONTINUOUS any-alignment substring dedup — the sliding-window
    * twin of [[continuousChunkDedup]], same store/output dual-write
    * discipline (doc-id-guarded output append; hash-guarded,
    * doc-tagged store append; tears heal on redelivery in both
    * orders). Equals [[graft.operators.TextDedup.substringDedup]]
    * over the whole corpus under doc-id-ordered arrival. The
    * window-hash store carries a `hash_flavor` marker, and every batch
    * FAILS FAST on a store written under another flavor (an older
    * build's "string" hashes) — see `substringDedupAgainst`. */
  def continuousSubstringDedup(docs: DataFrame,
      outDir: String, storeDir: String, idCol: String, textCol: String,
      spanTokens: Int = 50): DataStreamWriter[Row] =
    continuousSpanDedup(docs, outDir, storeDir, idCol, "window_hash")(
      TextDedup.windowHashes(_, idCol, textCol, spanTokens),
      TextDedup.substringDedupAgainst(_, idCol, textCol, spanTokens, _),
      // mergeSchema: a store whose older files predate the hash_flavor
      // marker is a mixed-schema store; a plain read may pick a
      // markerless file's schema and skip the check (legacy rows then
      // surface as accepted nulls)
      spark => TextDedup.checkWindowHashFlavor(
        spark.read.option("mergeSchema", "true").parquet(storeDir)))

  /** The span-dedup protocol both continuous sinks run per micro-batch,
    * with `hashes` (a batch's doc-tagged store rows, one per `hashCol`
    * value) and `dedupAgainst` (the deduped docs of a batch against a
    * prior store, or null for none) as its operator. `checkStore` runs
    * on a present store before anything is written, even when the
    * batch is fully redelivered, so the hash-append path cannot mix
    * flavors either. */
  private def continuousSpanDedup(docs: DataFrame, outDir: String,
      storeDir: String, idCol: String, hashCol: String)(
      hashes: DataFrame => DataFrame,
      dedupAgainst: (DataFrame, DataFrame) => DataFrame,
      checkStore: SparkSession => Unit): DataStreamWriter[Row] =
    docs.writeStream.outputMode("append").foreachBatch {
      (batch: Dataset[Row], _: Long) =>
        val spark = batch.sparkSession
        import org.apache.spark.sql.functions.col
        val batchD = batch.dropDuplicates(Seq(idCol))
        val guarded = Incremental.newRows(spark, outDir, batchD, Seq(idCol))
        try {
          if (EtlControl.nonEmptyDir(spark, storeDir)) checkStore(spark)
          if (!guarded.isEmpty) {
            // prior = the store MINUS rows introduced by docs this batch
            // is (re)processing — restores the pre-crash prior when a
            // torn run appended hashes but never published the docs
            val prior = Some(storeDir).filter(EtlControl.nonEmptyDir(spark, _))
              .map(ParquetMeta.readParquet(spark, _).join(
                guarded.select(col(idCol).as("doc_id")), Seq("doc_id"),
                "left_anti")).orNull
            dedupAgainst(guarded, prior)
              .write.mode(SaveMode.Append).parquet(outDir)
          }
          // store maintenance from the FULL delivered batch (not the
          // guard survivors): heals the output-landed/store-missed tear
          val newHashes = Incremental.newRows(spark, storeDir, hashes(batchD),
            Seq(hashCol))
          if (!newHashes.isEmpty)
            newHashes.write.mode(SaveMode.Append).parquet(storeDir)
        } finally {
          // defensive: release anything an operator registered this
          // batch (the span paths no longer cache, but a long-lived
          // stream must never accumulate registry entries)
          CacheRegistry.releaseAll()
        }
        ()
    }

  val outputMode: OutputMode = OutputMode.Update()
}
