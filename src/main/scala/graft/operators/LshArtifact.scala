package graft.operators

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

import graft.sources.ParquetMeta

/** Persisted LSH signature artifact: band buckets written ONCE as a
  * lake artifact (parquet), incrementally appended as the corpus
  * grows, and read back by every dedup run — the cross-run analogue of
  * the pretrained-IVF-centroid discipline ([[Ann.trainCentroids]])
  * applied to MinHash-LSH. Without it every dedup run at 100 TB
  * recomputes every document's signature; with it a daily run signs
  * ONLY the day's new documents (watermark-scoped, pushed-down scan)
  * and the candidate self-join reads parquet.
  *
  * Exactly-once: [[refresh]] runs the doc-id watermark cycle every
  * append-only store shares ([[EtlControl.runAppendCycle]]: append,
  * then watermark), and its append goes through the shared guard
  * ([[Incremental.newRows]]) on the (doc, band) key over the `doc > wm`
  * window. A crash between append and commit replays the window into
  * a no-op (re-signed rows are dropped, never duplicated), and a TORN
  * append — one that task-committed only some of a doc's band rows
  * before the job died — is healed on replay, which appends exactly
  * the missing (doc, band) rows — asserted in LshArtifactSpec.
  */
object LshArtifact {

  /** Largest new-side (doc, band, band_hash) row count the incremental
    * candidate probe will broadcast (~24 B/row ⇒ ~100 MB relation);
    * above it (a backfill-sized "batch") the probe joins shuffled. */
  val BroadcastNewSideMaxRows: Int = 4 << 20

  /** Sign any documents not yet in the artifact and append their band
    * buckets; commit the new doc-id watermark
    * ([[EtlControl.runAppendCycle]]). Returns the number of NEW
    * documents signed — 0 on a replay or an unchanged corpus (the
    * "second run recomputes zero signatures" observable).
    *
    * `failBeforeCommit` stops after the append but before the
    * watermark commit — the worst-ordered crash, which the next run
    * absorbs via the (doc, band) guard. */
  def refresh(spark: SparkSession, controlDir: String, artifactDir: String,
      sourceId: String, docs: DataFrame, idCol: String, textCol: String,
      batchId: String, numPerm: Int = 64, bands: Int = 16,
      shingleN: Int = 3, seed: Long = 42L, stop: Array[Long] = null,
      failBeforeCommit: Boolean = false): Long =
    EtlControl.runAppendCycle(spark, controlDir, sourceId, batchId, docs,
        idCol, failBeforeCommit) { (delta, wm) =>
      val raw = delta.select(col(idCol).cast("long").as("doc"),
        MinHashLSH.shingleHashes(col(textCol), shingleN).as("sh"))
      val filtered =
        if (stop == null || stop.isEmpty) raw
        else raw.select(col("doc"),
          filter(col("sh"), h => !array_contains(lit(stop), h)).as("sh"))
      val bb = MinHashLSH.bandBucketsFromHashes(filtered, numPerm, bands,
        seed, persistResult = false)
      // replay guard at (doc, band) granularity, NOT doc presence: a
      // crash mid-append can task-commit SOME of a doc's band rows
      // (FileOutputCommitter v2 / death during job commit), and a
      // doc-level guard would then skip the doc forever with a partial
      // signature — silently losing candidate recall. Each band_hash is
      // a pure function of the text, so refills are bit-identical to
      // what the torn run would have written. Every bb row has
      // doc > wm, so the guard reads only the artifact's `doc > wm`
      // files (the r13 store-growth finding: the guard scan was the
      // growth term, not recompute).
      val staged = Incremental.newRows(spark, artifactDir, bb,
        Seq("doc", "band"), col("doc") > wm).persist()
      try {
        val written = staged.select(countDistinct(col("doc"))).head().getLong(0)
        if (written > 0)
          // range-sorted by doc so the replay guard's `doc > wm` read
          // and the incremental probe's `doc > sinceId` slice zone-prune
          // to the new files instead of scanning the whole artifact.
          // COST ADJUDICATED (r15): the r14 bench's q66 +52 % suspicion
          // pointed here, but this append (and the probe-count guard
          // below in verifiedPairs) runs only on the artifact's FIRST
          // build — the steady-state read path Bench times doesn't
          // execute it, and the next clean window reproduced r13's
          // 0.70 s (0.71) on code including this sort. Window noise;
          // the sort stays as the zone-prune price on the refresh path.
          staged.repartitionByRange(col("doc"))
            .sortWithinPartitions("doc")
            .write.mode(SaveMode.Append).parquet(artifactDir)
        written
      } finally { staged.unpersist(); () }
    }

  /** The persisted (doc, band, band_hash) frame. */
  def bandBuckets(spark: SparkSession, artifactDir: String): DataFrame =
    ParquetMeta.readParquet(spark, artifactDir)

  /** Candidate pairs from the artifact alone — ZERO signature
    * computation; the self-join's two sides are pruned parquet scans
    * sharing one exchange. */
  def candidatePairs(spark: SparkSession, artifactDir: String): DataFrame =
    MinHashLSH.candidatePairs(bandBuckets(spark, artifactDir))

  /** Artifact-backed near-dup pairs: candidates from the persisted
    * buckets, exact-Jaccard verified. Shingle sets are recomputed ONLY
    * for documents that appear in some candidate pair (a semi join
    * narrows the scan before tokenization) — the corpus-wide signature
    * pass never reruns. The narrowed shingle frame is deliberately
    * left unpersisted: it is read once per verify side and the rows it
    * would cache are bounded by the candidate set, not the corpus. */
  def verifiedPairs(spark: SparkSession, artifactDir: String,
      docs: DataFrame, idCol: String, textCol: String, threshold: Double,
      shingleN: Int = 3, stop: Array[Long] = null,
      sinceId: Long = Long.MinValue): DataFrame = {
    // sinceId narrows to pairs TOUCHING a doc above it — the daily
    // batch shape: old-old pairs were folded by earlier cycles, so a
    // growth run verifies only candidates with a new side. r14: the
    // candidate stage is now STRUCTURALLY asymmetric instead of a
    // filter above the full self-join — the new side is the
    // zone-pruned `doc > sinceId` slice (appends are doc-ranged
    // files), broadcast when batch-sized, so the store side is ONE
    // narrow columnar scan with zero store-row shuffle, instead of
    // scanning AND shuffling the whole artifact twice per batch.
    // (x, y) shares a bucket with y new  ⇔  the pair touches a new
    // doc — least/greatest + distinct restores the doc_a < doc_b
    // normal form, so the pair set is exactly the filtered self-join's
    // (asserted in LshArtifactSpec), with no monotone-id assumption.
    val (cands, batchShaped) =
      if (sinceId == Long.MinValue) (candidatePairs(spark, artifactDir), false)
      else {
        val all = bandBuckets(spark, artifactDir)
        val nw = all.where(col("doc") > sinceId)
        // broadcast only a batch-sized new side; a backfill-sized one
        // (e.g. the first run over a whole corpus) joins shuffled
        val nwSmall = nw.limit(BroadcastNewSideMaxRows + 1).count() <=
          BroadcastNewSideMaxRows
        val newSide =
          if (nwSmall) broadcast(nw) else nw.hint("shuffle_hash")
        (all.as("a").join(newSide.as("b"),
            col("a.band") === col("b.band") &&
              col("a.band_hash") === col("b.band_hash") &&
              col("a.doc") =!= col("b.doc"))
          .select(least(col("a.doc"), col("b.doc")).as("doc_a"),
            greatest(col("a.doc"), col("b.doc")).as("doc_b"))
          .distinct(), nwSmall)
      }
    val candIdsRaw = cands.select(col("doc_a").as("__cid"))
      .union(cands.select(col("doc_b").as("__cid"))).distinct()
    // batch-shaped runs probe a broadcast id set (candidates are
    // bounded by the batch's bucket occupancy, df-capped by the stop
    // list); a full rebuild leaves the planner free to shuffle
    val candIds = if (batchShaped) broadcast(candIdsRaw) else candIdsRaw
    // narrow on the RAW id column FIRST, THEN shingle: a projection
    // written before the semi join pipelines shingle computation ahead
    // of the probe in codegen, silently re-tokenizing the WHOLE corpus
    // every batch — the store-growth term the r14 preseed measurement
    // isolated (the id/text scan is O(store) file IO either way; the
    // kernel work must be candidate-sized)
    val raw = docs
      .join(candIds, col(idCol).cast("long") === col("__cid"), "left_semi")
      .select(col(idCol).cast("long").as("doc"),
        MinHashLSH.shingleHashes(col(textCol), shingleN).as("sh"))
    val sh =
      if (stop == null || stop.isEmpty) raw
      else raw.select(col("doc"),
        filter(col("sh"), h => !array_contains(lit(stop), h)).as("sh"))
    cands
      .join(sh.withColumnRenamed("doc", "doc_a").withColumnRenamed("sh", "sh_a"), "doc_a")
      .join(sh.withColumnRenamed("doc", "doc_b").withColumnRenamed("sh", "sh_b"), "doc_b")
      .withColumn("jaccard",
        size(array_intersect(col("sh_a"), col("sh_b"))).cast("double") /
          size(array_union(col("sh_a"), col("sh_b"))).cast("double"))
      .where(col("jaccard") >= threshold)
      .select("doc_a", "doc_b", "jaccard")
  }

  /** The SELF-DRIVING daily dedup run — the full corpus-growth path in
    * one call, composing the three persisted artifacts: (1) [[refresh]]
    * signs only documents above the signature watermark and appends
    * their band buckets; (2) [[verifiedPairs]] verifies only candidates
    * touching a document above the CLUSTER cycle's own doc-id watermark
    * — the day's pair batch; (3) [[EtlControl.runDedupCycle]] folds the
    * batch into the persisted (node, component) assignment exactly-once
    * ([[DupGroups.updateClusters]] rebuilds only touched components).
    *
    * Exactly-once under any crash ordering: the pair batch is defined
    * by the CLUSTER watermark, not the signature watermark — so a crash
    * after the signature commit but before the cluster commit replays
    * into (0 docs signed, SAME pair batch, idempotent refold), and a
    * redelivered fully-committed batch id is skipped without running a
    * job. The two cycles therefore keep separate control sources
    * (`sourceId#sig` / `sourceId#cc`) in the same control log.
    *
    * Returns (docsSigned, pairsInBatch, nAssignments). */
  def dailyDedupRun(spark: SparkSession, controlDir: String,
      artifactDir: String, assignDir: String, sourceId: String,
      docs: DataFrame, idCol: String, textCol: String, batchId: String,
      threshold: Double = 0.5, numPerm: Int = 64, bands: Int = 16,
      shingleN: Int = 3, seed: Long = 42L, stop: Array[Long] = null,
      failBeforeCommit: Boolean = false): (Long, Long, Long) = {
    // the CLUSTER watermark defines the batch: pairs already folded end
    // strictly at it, whatever the signature cycle has or hasn't done
    val wmCc = EtlControl.lastWatermarkMicros(spark, controlDir,
      s"$sourceId#cc", -1L)
    val signed = refresh(spark, controlDir, artifactDir, s"$sourceId#sig",
      docs, idCol, textCol, batchId, numPerm, bands, shingleN, seed, stop)
    // the verify pipeline (candidate self-join + shingle recompute +
    // Jaccard) is scanned several times downstream — the batch count
    // here, updateClusters' touched-node derivation, and the CC
    // input's cache fill. Persist ONCE so the cycle pays verify once;
    // the frame is batch-sized (the day's pairs), not corpus-sized.
    val pairs = verifiedPairs(spark, artifactDir, docs, idCol, textCol,
      threshold, shingleN, stop, sinceId = wmCc)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      // the cluster cycle's new watermark is the corpus id high-water
      // mark — which the signature cycle JUST committed (refresh sets
      // it to max(delta ids), and a no-delta replay means it already
      // covers every id). Reading it back from the control log is
      // metadata-scale; the previous `docs.agg(max(id))` re-scanned
      // the whole corpus id column every batch (an r13 store-growth
      // term). Fallback to wmCc when both logs are empty (empty
      // corpus), exactly like the old null-max case.
      val newWm = math.max(wmCc, EtlControl.lastWatermarkMicros(
        spark, controlDir, s"$sourceId#sig", wmCc))
      val nPairs = pairs.count()
      val (nAssign, _) = EtlControl.runDedupCycle(spark, controlDir,
        s"$sourceId#cc", pairs, "doc_a", "doc_b", assignDir, batchId,
        watermarkUs = newWm, failBeforeCommit = failBeforeCommit)
      (signed, nPairs, nAssign)
    } finally { pairs.unpersist(blocking = false); () }
  }
}
