package graft.operators

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.DataFrame
import org.apache.spark.storage.StorageLevel

/** Caller-owned lifecycle for the cache entries this library creates.
  *
  * Several operators persist frames their RETURNED lazy plans
  * reference (LSH band buckets, shingle/fingerprint frames shared by
  * both sides of a candidate self-join): unpersisting before the
  * caller's action would force recomputation, so the operator cannot
  * clean up after itself. Every such persist is registered here, and
  * [[releaseAll]] is the explicit release handle — call it after
  * consuming a pipeline's results (end of stage, between bench reps,
  * periodically in a long-lived session) and every registered block
  * drops. CacheHygieneSpec asserts the registry covers the cache-heavy
  * SparkEntry queries: after action + releaseAll, zero persistent RDDs
  * remain.
  *
  * Deliberately NOT registered: per-corpus artifact caches whose
  * lifetime is the session by design (pretrained PQ code frames — the
  * in-memory analogue of [[LshArtifact]]'s parquet), and iterative
  * operators that persist nothing ([[DupGroups]] carries its steps in
  * shuffle files).
  */
object CacheRegistry {

  private val entries =
    new java.util.concurrent.ConcurrentLinkedQueue[DataFrame]()

  /** Persist `df` (MEMORY_AND_DISK) and register it for release. */
  def persist(df: DataFrame): DataFrame = {
    df.persist(StorageLevel.MEMORY_AND_DISK)
    entries.add(df)
    df
  }

  /** Unpersist every registered frame. Safe to call at any point —
    * frames still referenced by un-run plans just recompute. */
  def releaseAll(blocking: Boolean = false): Unit = {
    var df = entries.poll()
    while (df != null) {
      df.unpersist(blocking)
      df = entries.poll()
    }
  }

  /** The RDD backing a localCheckpoint-ed frame. `Dataset.unpersist`
    * does NOT release a local checkpoint (its persist lives at the RDD
    * level, invisible to the cache manager), so iterative/streaming
    * code frees the blocks through this handle once the frame's
    * contents have been consumed. */
  def localCheckpointRdd(df: DataFrame): Option[RDD[_]] = {
    val plan = df.queryExecution.analyzed
    if (plan.getClass.getSimpleName != "LogicalRDD") None
    else scala.util.Try(plan.getClass.getMethod("rdd").invoke(plan)
      .asInstanceOf[RDD[_]]).toOption
  }

  /** Drop a localCheckpoint-ed frame's blocks (no-op if `df` is not
    * one). Only call once nothing will read `df` again — a local
    * checkpoint cannot be recomputed. */
  def freeLocalCheckpoint(df: DataFrame): Unit =
    localCheckpointRdd(df).foreach(_.unpersist(blocking = false))

  /** Delete the RELIABLE-checkpoint files behind every LogicalRDD in
    * `df`'s plan (no-op where there are none). Spark only auto-removes
    * checkpoint data when the RDD is GC'd AND
    * `spark.cleaner.referenceTracking.cleanCheckpoints` is enabled —
    * neither is guaranteed — so iterative/streaming callers that
    * checkpoint per cycle free explicitly once the contents are
    * durable elsewhere (e.g. written to parquet), or the checkpoint
    * store grows one snapshot per cycle forever. Only call once
    * nothing will read `df` again. */
  def freeReliableCheckpoints(df: DataFrame): Unit =
    df.queryExecution.analyzed.collect {
      case p if p.getClass.getSimpleName == "LogicalRDD" => p
    }.foreach { p =>
      scala.util.Try(p.getClass.getMethod("rdd").invoke(p)
        .asInstanceOf[RDD[_]]).toOption.foreach { rdd =>
        rdd.getCheckpointFile.foreach { dir =>
          val path = new org.apache.hadoop.fs.Path(dir)
          val fs = path.getFileSystem(rdd.context.hadoopConfiguration)
          fs.delete(path, true)
          ()
        }
      }
    }
}
