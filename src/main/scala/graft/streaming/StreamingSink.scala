package graft.streaming

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, Trigger}

import graft.operators.{EtlControl, Incremental}

/** Write-side of the streaming incremental path: each micro-batch is
  * MERGEd into a keep-last parquet target — the streaming form of the
  * reference's per-run upsert loader (misa_crm_loader.py:215-500 runs
  * the same MERGE once per 15-min Airflow tick; foreachBatch runs it
  * per micro-batch with exactly the same batch semantics).
  *
  * Exactness: both upsert sinks merge through `Incremental`'s keep-last
  * MERGE, the one the ETL cycle runs: the highest sequence number wins
  * per business key, and on an equal one the later delivery wins. So
  * replays of an at-least-once source batch are idempotent — the target
  * equals the batch keep-last of the whole feed (asserted in
  * StreamingSinkSpec), which is the "exactness-preserving" contract a
  * lake MERGE needs.
  *
  * Scale: [[upsertSinkPartitioned]] rewrites only the key-hash
  * partition directories a batch touches (dynamic partition
  * overwrite) — per-batch cost O(touched/nBuckets of the target).
  * [[upsertSink]] is the simpler whole-rewrite form. Either way the
  * operator boundary (`Incremental.upsert` semantics) is what a
  * Delta/Iceberg MERGE would replace on a lakehouse.
  */
object StreamingSink {

  /** foreachBatch sink writing `artifact(batch)` as one file under
    * `artifactDir/batch_id=<id>`: a replayed batch OVERWRITES its own
    * directory, so the artifact log stays correct under foreachBatch's
    * at-least-once contract. */
  private def perBatchArtifact(updates: DataFrame, artifactDir: String)(
      artifact: DataFrame => DataFrame): DataStreamWriter[Row] =
    updates.writeStream
      .outputMode("append")
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        artifact(batch).coalesce(1)
          .write.mode("overwrite").parquet(s"$artifactDir/batch_id=$batchId")
        ()
      }

  /** Sketch-artifact sink — the streaming producer of
    * [[graft.operators.Stats.sketchArtifacts]]: each micro-batch
    * writes its per-(day, key) HLL artifacts under
    * `artifactDir/batch_id=<id>`. A replayed batch OVERWRITES its own
    * directory, so the log stays correct under foreachBatch's
    * at-least-once contract (asserted by running the same feed twice
    * in StreamingSinkSpec). Readers union the artifact log and
    * [[graft.operators.Stats.mergeSketches]] it — cross-batch distinct
    * counts without touching the event stream again, the streaming
    * half of SURVEY §2 row 38. */
  def sketchArtifactSink(updates: DataFrame, artifactDir: String,
      keyCol: String, distinctCol: String): DataStreamWriter[Row] =
    perBatchArtifact(updates, artifactDir)(
      graft.operators.Stats.sketchArtifacts(_, keyCol, distinctCol))

  /** Count-min-sketch artifact sink — the streaming producer of
    * [[graft.operators.HeavyHitters]] state (SURVEY §7's round-7
    * candidate): each micro-batch folds into ONE fixed-size CMS row
    * (sketch binary + row count) under `artifactDir/batch_id=<id>`.
    * Replayed batches overwrite their own directory (idempotent under
    * foreachBatch's at-least-once contract, asserted in
    * StreamingSinkSpec). "Heavy keys over the whole stream so far" is
    * then [[graft.operators.HeavyHitters.merge]] over the artifact
    * log + one CMS-pruned exact pass over the target table — never a
    * full re-aggregation of the stream, and the streaming state is
    * ~1 MB per batch regardless of key cardinality (a
    * mapGroupsWithState per-key counter would hold every key ever
    * seen). */
  def cmsArtifactSink(updates: DataFrame, artifactDir: String,
      keys: Seq[String], eps: Double = graft.operators.HeavyHitters.DefaultEps,
      confidence: Double = graft.operators.HeavyHitters.DefaultConfidence)
      : DataStreamWriter[Row] =
    perBatchArtifact(updates, artifactDir)(
      graft.operators.HeavyHitters.sketchAndCount(_, keys, eps, confidence)
        .where(col("sketch").isNotNull)) // empty batch → no artifact row

  /** Profile-artifact sink — the streaming producer of
    * [[graft.operators.Validate.profileByKey]] artifacts: each
    * micro-batch writes its per-key (count, null, mean, stddev)
    * profile under `artifactDir/batch_id=<id>`, key-cardinality-sized
    * regardless of batch volume. Replayed batches overwrite their own
    * directory (idempotent under foreachBatch's at-least-once
    * contract). Drift monitoring over the stream is then
    * [[graft.operators.Validate.driftFromProfiles]] between any two
    * batches' artifacts — no event rescan, the same
    * artifact-not-rescan discipline as the HLL and CMS sinks. */
  def profileArtifactSink(updates: DataFrame, artifactDir: String,
      keyCol: String, valCol: String): DataStreamWriter[Row] =
    perBatchArtifact(updates, artifactDir)(
      graft.operators.Validate.profileByKey(_, keyCol, valCol))

  /** Attach a foreachBatch upsert sink to `updates`: each micro-batch
    * is one [[graft.operators.Incremental.mergeInto]] of the batch into
    * `targetDir` on `keyCols`, keep-last by `seqCol` — the first batch
    * creates the target, a stale replayed row loses to the target's
    * newer one, and on an equal `seqCol` the batch's row wins. Rewrites
    * the WHOLE target per batch, published by
    * `ParquetSink.atomicReplace` (no crash point leaves the target
    * missing) — the simplest stand-in; [[upsertSinkPartitioned]] is the
    * scale-shaped variant that rewrites only touched key-buckets. */
  def upsertSink(spark: SparkSession, updates: DataFrame,
      targetDir: String, keyCols: Seq[String], seqCol: String): DataStreamWriter[Row] =
    updates.writeStream
      .outputMode("update")
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, _: Long) =>
        Incremental.mergeInto(batch.sparkSession, targetDir, batch, keyCols,
          Seq(col(seqCol)))
        ()
      }

  /** Scale-shaped upsert sink: the target is laid out in `nBuckets`
    * key-hash partition directories (`__kb=<pmod(xxhash64(keys))>`),
    * and each micro-batch rewrites ONLY the buckets its keys touch —
    * dynamic partition overwrite replaces exactly the partitions
    * present in the written frame, so untouched buckets stay
    * byte-identical on disk (asserted in StreamingSinkSpec). Per-batch
    * cost is O(touched-buckets / nBuckets of the target), not
    * O(target): the partition-pruned read of touched buckets, merged
    * with the batch by the same keep-last MERGE as [[upsertSink]]
    * (`Incremental.upsert`, so the tie rule is the same too). The
    * merged frame is localCheckpoint-ed to break lineage before
    * overwriting the directories it was read from. Reads of the target
    * see an extra `__kb` int column (drop it, or read through
    * [[readPartitioned]]). */
  def upsertSinkPartitioned(spark: SparkSession, updates: DataFrame,
      targetDir: String, keyCols: Seq[String], seqCol: String,
      nBuckets: Int = 32): DataStreamWriter[Row] =
    updates.writeStream
      .outputMode("update")
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val spark = batch.sparkSession
        val keyed = batch.withColumn("__kb",
          pmod(xxhash64(keyCols.map(col): _*), lit(nBuckets.toLong)).cast("int"))
        val existing = Some(targetDir).filter(EtlControl.nonEmptyDir(spark, _))
          .map { dir =>
            val touched = keyed.select("__kb").distinct()
              .collect().map(_.getInt(0)).toSeq // bounded by nBuckets
            spark.read.parquet(dir)
              .where(col("__kb").isin(touched: _*)) // partition-pruned
          }
        val merged = Incremental.mergeRows(existing, keyed, keyCols, Seq(col(seqCol)))
        // checkpoint breaks lineage from the directories being
        // overwritten; its RDD-level blocks are freed after the write
        // (a stream of N batches must not accumulate N checkpoints)
        val ck = merged.localCheckpoint(true)
        try {
          ck.write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("__kb")
            .parquet(targetDir)
        } finally graft.operators.CacheRegistry.freeLocalCheckpoint(ck)
        ()
      }

  /** Read a [[upsertSinkPartitioned]] target without its layout
    * column. */
  def readPartitioned(spark: SparkSession, targetDir: String): DataFrame =
    spark.read.parquet(targetDir).drop("__kb")

  /** Stream enriched with a static dimension via broadcast hash join —
    * no state, no shuffle of the stream side; the static side ships to
    * every executor once per (re)plan, exactly how a 100 TB stream
    * joins a dim table. */
  def enrichWithDim(stream: DataFrame, dim: DataFrame,
      streamKey: String, dimKey: String): DataFrame =
    stream.join(broadcast(dim), col(streamKey) === col(dimKey), "left")
}
