package graft.operators

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

import graft.sources.ParquetMeta

/** Persisted Jaccard shingle artifact: the (doc, block, sz, shs)
  * shingle-hash frame written ONCE as a lake artifact (parquet) and
  * incrementally appended as the corpus grows — [[LshArtifact]]'s
  * watermark discipline applied to the prefix-filtered blocked-Jaccard
  * pipeline ([[TextDedup.blockedJaccardPairs]]). Without it every
  * dedup run re-reads the corpus TEXT and re-tokenizes every document
  * — at 100 TB the text scan + shingling dwarfs the pair work; with it
  * a daily run shingles ONLY the day's new documents and the whole
  * candidate + verify pipeline (postings, document frequencies, prefix
  * ranking, buckets, exact-Jaccard verify) runs off the compact
  * integer artifact.
  *
  * What is persisted is deliberately the PRE-prefix shingle frame, not
  * the prefix-filtered postings: a document's shingle set is a pure
  * function of its text (append-only, replay-safe), while its prefix
  * depends on corpus-global document frequencies that CHANGE as the
  * corpus grows — freezing the prefix at append time would silently
  * lose recall (a shingle rare today may be hot tomorrow, reordering
  * every prefix). Re-ranking runs per query over the persisted
  * integers — cheap next to the text scan it replaces — and keeps the
  * prefix filter recall-exact at every corpus size
  * ([[TextDedup.prefixIndex]]'s argument needs the CURRENT global
  * frequency order).
  *
  * Exactly-once: both refreshes run the doc-id watermark cycle every
  * append-only store shares ([[EtlControl.runAppendCycle]]: append,
  * then watermark) and guard their appends with
  * [[Incremental.newRows]] over the doc-id window. The shingle
  * artifact holds exactly ONE row per document, and parquet task
  * commits are file-atomic, so a row is either fully present or absent
  * — doc presence is therefore a COMPLETE replay guard here (no
  * sub-doc tear exists, unlike the per-band rows that make
  * [[LshArtifact]] guard on (doc, band)). A crash between append and
  * watermark commit replays the window into appending exactly the docs
  * the torn run missed.
  */
object PostingsArtifact {

  /** Shingle any documents not yet in the artifact and append their
    * (doc, block, sz, shs) rows; commit the new doc-id watermark.
    * Returns the number of NEW documents shingled — 0 on a replay or
    * an unchanged corpus (the "second run recomputes zero shingle
    * sets" observable).
    *
    * `failBeforeCommit` stops after the append but before the
    * watermark commit — the worst-ordered crash, absorbed on the next
    * run by the doc-presence anti-join. */
  def refresh(spark: SparkSession, controlDir: String, artifactDir: String,
      sourceId: String, docs: DataFrame, idCol: String, textCol: String,
      blockCol: String, batchId: String, shingleN: Int = 3,
      failBeforeCommit: Boolean = false): Long =
    EtlControl.runAppendCycle(spark, controlDir, sourceId, batchId, docs,
        idCol, failBeforeCommit) { (delta, wm) =>
      val base = delta.select(col(idCol).cast("long").as("doc"),
          col(blockCol).as("block"),
          TextDedup.shingleHashes64(col(textCol), shingleN).as("shs"))
        .withColumn("sz", size(col("shs")).cast("long"))
      appendNew(spark, artifactDir,
        Incremental.newRows(spark, artifactDir, base, Seq("doc"), col("doc") > wm))
    }

  /** Appends `rows` to the store at `dir` (also when empty while the
    * store is absent, so a store that saw a cycle is always readable)
    * and returns their count. */
  private def appendNew(spark: SparkSession, dir: String, rows: DataFrame): Long = {
    val staged = rows.persist()
    try {
      val written = staged.count()
      if (written > 0 || !EtlControl.nonEmptyDir(spark, dir))
        staged.write.mode(SaveMode.Append).parquet(dir)
      written
    } finally { staged.unpersist(); () }
  }

  /** The persisted (doc, block, sz, shs) frame. */
  def shingleFrame(spark: SparkSession, artifactDir: String): DataFrame =
    ParquetMeta.readParquet(spark, artifactDir)

  /** Exact blocked-Jaccard pairs from the artifact alone — ZERO text
    * access, ZERO tokenization: postings, document frequencies, prefix
    * ranking, buckets, pair expansion, and the exact `array_intersect`
    * verify all read the persisted integer arrays. Identical output to
    * [[TextDedup.blockedJaccardPairs]] over the same corpus (shared
    * pipeline — [[TextDedup.pairsFromBase]]).
    *
    * `sinceId` narrows to pairs TOUCHING a doc above it — the daily
    * batch shape (old–old pairs were emitted by earlier runs: the
    * prefix filter was recall-exact over the smaller corpus too, so a
    * growth run only owes candidates with a new side). The frame is
    * registered with [[CacheRegistry]] for the intra-query reuse
    * (postings pass + two verify sides), released like every query
    * cache. */
  def pairs(spark: SparkSession, artifactDir: String, minJaccard: Double,
      sinceId: Long = Long.MinValue): DataFrame =
    TextDedup.pairsFromBase(
      CacheRegistry.persist(shingleFrame(spark, artifactDir)),
      minJaccard, sinceId)

  /** The VERIFIED-PAIR artifact on top of [[refresh]] — the
    * [[LshArtifact.dailyDedupRun]] shape applied to blocked Jaccard:
    * one call signs the day's new documents into the shingle artifact,
    * verifies ONLY candidates touching them (the batch, scoped before
    * the distinct shuffle), and appends the new (doc_a, doc_b,
    * jaccard) rows to a persisted pair table. Steady-state consumers
    * ([[graft.queries]] q20/q54) then just READ the pair table —
    * zero candidate work, zero verification, zero text access; the
    * prior-growth union equals a from-scratch run because the prefix
    * filter was recall-exact at every earlier corpus size too
    * (asserted in PostingsArtifactSpec's growth test).
    *
    * Exactly-once: the pair cycle keeps its own control source
    * (`sourceId#pairs`) whose doc-id watermark defines the batch, and
    * the append is guarded by an anti join on (doc_a, doc_b) — a crash
    * between append and commit replays into appending nothing new, and
    * the watermark still advances (the [[refresh]] ordering). Returns
    * the number of pair rows appended. */
  def refreshPairs(spark: SparkSession, controlDir: String,
      artifactDir: String, pairsDir: String, sourceId: String,
      docs: DataFrame, idCol: String, textCol: String, blockCol: String,
      minJaccard: Double, batchId: String, shingleN: Int = 3,
      failBeforeCommit: Boolean = false): Long = {
    refresh(spark, controlDir, artifactDir, s"$sourceId#shs", docs,
      idCol, textCol, blockCol, batchId, shingleN)
    // a pair in the batch touches a doc above wm and has doc_a < doc_b,
    // so its doc_b is above wm: the guard reads only those store rows
    EtlControl.runAppendCycle(spark, controlDir, s"$sourceId#pairs", batchId,
        docs, idCol, failBeforeCommit) { (_, wm) =>
      appendNew(spark, pairsDir, Incremental.newRows(spark, pairsDir,
        pairs(spark, artifactDir, minJaccard, sinceId = wm),
        Seq("doc_a", "doc_b"), col("doc_b") > wm))
    }
  }

  /** The persisted (doc_a, doc_b, jaccard) frame. */
  def allPairs(spark: SparkSession, pairsDir: String): DataFrame =
    ParquetMeta.readParquet(spark, pairsDir)
}
