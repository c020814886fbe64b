package graft.sources

import org.apache.spark.sql.{DataFrame, SaveMode}
import org.apache.spark.sql.functions._

/** Write-side layout operators — where 100 TB performance is actually
  * won: a table laid out right makes every later scan partition-pruned
  * and every later join co-located.
  *
  * Reference analogue: the loaders write MSSQL tables with clustered PK
  * + secondary indexes (sql/00_master_setup.sql); on a lake the same
  * roles are played by partition directories (coarse pruning) and
  * in-file ordering (row-group min/max pruning).
  */
object ParquetSink {

  /** Date-partitioned event layout: `.../event_date=YYYY-MM-DD/part-*`.
    * Incremental window filters then prune whole directories before a
    * byte is read (PartitionFilters, verified in ParquetSinkSpec). */
  def writeDatePartitioned(events: DataFrame, path: String,
      tsCol: String = "ts"): Unit =
    events
      .withColumn("event_date", to_date(col(tsCol)))
      .write.mode(SaveMode.Overwrite)
      .partitionBy("event_date")
      .parquet(path)

  /** Key-clustered layout: repartition on the join/dedup key then sort
    * within partitions — row-groups become key-ranged so point/merge
    * reads skip via parquet min/max stats, and downstream same-key
    * shuffles hash identically. (True hive bucketing needs a metastore
    * table; this is the pure-directory equivalent.) */
  def writeKeyClustered(df: DataFrame, path: String, key: String,
      numFiles: Int): Unit =
    df.repartition(numFiles, col(key))
      .sortWithinPartitions(col(key))
      .write.mode(SaveMode.Overwrite)
      .parquet(path)

  /** Range-clustered layout: globally ordered files with DISJOINT key
    * ranges — `repartitionByRange` samples balanced bounds (so skew
    * cannot starve files) and the in-partition sort tightens row-group
    * stats. A range predicate then reads only the files whose min/max
    * overlap it; [[writeKeyClustered]]'s hash distribution leaves
    * every file's key range near-global, skipping row groups but
    * never whole files. The right layout when the dominant predicate
    * is a range (time windows, id bands); hash clustering remains
    * right for equi-join co-location. Skip effect measured
    * file-by-file in SkewAndSinkSpec. */
  def writeRangeClustered(df: DataFrame, path: String, key: String,
      numFiles: Int): Unit =
    df.repartitionByRange(numFiles, col(key))
      .sortWithinPartitions(col(key))
      .write.mode(SaveMode.Overwrite)
      .parquet(path)

  /** Small-file compaction: bin-pack a directory's parquet files into
    * ~`targetBytes` outputs — the periodic maintenance pass every
    * streaming/incremental sink needs (each micro-batch appends a few
    * small files; a month later the scan pays per-file open cost and
    * the NameNode/listing pays the metadata). Without `sortCols` the
    * rewrite is `coalesce` — NO shuffle, input files are concatenated
    * partition-local; with `sortCols` it re-clusters via range
    * repartition + in-partition sort (restoring min/max skipping that
    * interleaved appends destroyed). Published via the same staged
    * [[atomicReplace]] swap as every other rewrite — readers never see
    * a partial directory. Returns (filesBefore, filesAfter). */
  def compactSmallFiles(spark: org.apache.spark.sql.SparkSession,
      path: String, targetBytes: Long,
      sortCols: Seq[String] = Nil): (Int, Int) = {
    require(targetBytes > 0, s"targetBytes must be positive, got $targetBytes")
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    def parts(dir: org.apache.hadoop.fs.Path): Seq[org.apache.hadoop.fs.FileStatus] = {
      val it = fs.listFiles(dir, true)
      val buf = scala.collection.mutable.ArrayBuffer[org.apache.hadoop.fs.FileStatus]()
      while (it.hasNext) {
        val f = it.next()
        if (f.getPath.getName.endsWith(".parquet")) buf += f
      }
      buf.toSeq
    }
    val before = parts(p)
    val nOut = math.max(1, math.ceil(
      before.map(_.getLen).sum.toDouble / targetBytes).toInt)
    atomicReplace(spark, path) { staging =>
      val df = ParquetMeta.readParquet(spark, path)
      val packed =
        if (sortCols.isEmpty) df.coalesce(nOut)
        else df.repartitionByRange(nOut, sortCols.map(col): _*)
          .sortWithinPartitions(sortCols.map(col): _*)
      packed.write.mode(SaveMode.Overwrite).parquet(staging)
    }
    (before.size, parts(p).size)
  }

  /** Morton (Z-order) key over 2+ numeric columns: each value is
    * scaled to a `bits`-wide bucket between the column's observed
    * min/max, and bucket bits are interleaved — points close in the
    * z-value are close in EVERY dimension, so range-partitioning by
    * it gives row groups tight min/max on ALL the columns at once.
    * Plain integer shift/mask Column arithmetic (codegen'd); nulls
    * produce a null key and cluster together at the range edge. */
  def zOrderKey(df: DataFrame, cols: Seq[String], bits: Int): org.apache.spark.sql.Column = {
    require(cols.size >= 2, "z-order needs ≥2 columns (one column = plain sort)")
    require(bits * cols.size <= 62, s"bits=$bits × ${cols.size} cols overflows a long")
    val n = 1L << bits
    val aggExprs = cols.flatMap(c =>
      Seq(min(col(c)).cast("double"), max(col(c)).cast("double")))
    val stats = df.agg(aggExprs.head, aggExprs.tail: _*).head()
    val buckets = cols.zipWithIndex.map { case (c, i) =>
      // an empty frame aggregates min/max to null → constant key
      if (stats.isNullAt(2 * i)) lit(0L)
      else {
      val (lo, hi) = (stats.getDouble(2 * i), stats.getDouble(2 * i + 1))
      // degenerate constant column → bucket 0
      if (lo == hi) lit(0L)
      else least(
        floor((col(c).cast("double") - lit(lo)) / lit(hi - lo) * lit(n.toDouble))
          .cast("long"),
        lit(n - 1))
      }
    }
    (0 until bits).flatMap { b =>
      buckets.zipWithIndex.map { case (bk, ci) =>
        shiftleft(shiftright(bk, b).bitwiseAND(lit(1L)), b * cols.size + ci)
      }
    }.reduce(_ + _)
  }

  /** Z-order-clustered layout: range-partition + sort by the Morton
    * key, so a selective filter on ANY of the clustered columns skips
    * most files/row-groups via parquet min/max stats — the multi-column
    * generalization of [[writeKeyClustered]] (which clusters perfectly
    * on one column and not at all on the others). The skip effect is
    * asserted file-by-file in SkewAndSinkSpec. */
  def writeZOrdered(df: DataFrame, path: String, cols: Seq[String],
      numFiles: Int, bits: Int = 12): Unit = {
    val z = zOrderKey(df, cols, bits)
    df.withColumn("__z", z)
      .repartitionByRange(numFiles, col("__z"))
      .sortWithinPartitions(col("__z"))
      .drop("__z")
      .write.mode(SaveMode.Overwrite)
      .parquet(path)
  }

  /** IVF cell layout for an embedding corpus: partition directories by
    * cluster id, so an ANN probe reads nprobe/k of the data
    * (graft.operators.Ann.ivfTopK's scale path). */
  def writeIvfPartitioned(embeddings: DataFrame, path: String,
      clusterCol: String = "__c"): Unit =
    embeddings.write.mode(SaveMode.Overwrite)
      .partitionBy(clusterCol)
      .parquet(path)

  /** True hive-bucketed table (catalog-backed): rows hash-clustered
    * into `nBuckets` files per the key, bucket spec recorded in the
    * catalog. Two tables bucketed the same way join with ZERO
    * exchanges — the shuffle was paid once at write time, which is the
    * whole game for a fact⋈fact join run daily at 100 TB (asserted in
    * SkewAndSinkSpec: no Exchange in the joined plan).
    *
    * The write pre-repartitions on the key with the SAME Murmur3 hash
    * the bucket spec uses, so every bucket lands in exactly ONE file.
    * Without it each write task emits its own file per bucket
    * (tasks × buckets files — 1024 at 32×32, measured r11), and a
    * multi-file bucket loses its sort metadata on read, so the SMJ
    * re-sorts both sides. One-file buckets read back sorted → the
    * join's Sort is elided: q41 at the x30 tier 2.87 s (8-bucket,
    * multi-file) → 1.19 s.
    *
    * Tradeoff: the pre-repartition caps WRITE parallelism at
    * `nBuckets` and makes each task sort an entire bucket, so a
    * small-bucket-count write of a large table serializes and risks
    * per-task sort spill. Size `nBuckets` to ≥ the core count (or a
    * multiple) when the table is big — the q41 self-sizing tiers do
    * exactly that (~1 M rows/bucket in core-multiple steps). Callers
    * that prefer write parallelism over read-side sort elision can
    * pass `oneFilePerBucket = false` to keep tasks × buckets files. */
  def writeBucketedTable(df: DataFrame, table: String, key: String,
      nBuckets: Int, oneFilePerBucket: Boolean = true): Unit =
    (if (oneFilePerBucket)
       df.repartition(nBuckets, org.apache.spark.sql.functions.col(key))
     else df)
      .write.mode(SaveMode.Overwrite)
      .bucketBy(nBuckets, key)
      .sortBy(key)
      .format("parquet")
      .saveAsTable(table)

  /** Retention cleanup as a METADATA-ONLY partition drop (reference:
    * misa_crm_loader.py:1166 cleanup_old_data, which DELETEs rows
    * older than N days — on the date-partitioned layout the same
    * age-out is a directory unlink: no scan, no rewrite, survivors'
    * files untouched byte-for-byte). Partition values must be
    * zero-padded ISO dates (writeDatePartitioned's format), so
    * lexical comparison IS date comparison. Returns the dropped
    * partition values. */
  def dropExpiredPartitions(spark: org.apache.spark.sql.SparkSession,
      tableDir: String, partitionCol: String, keepFrom: String): Seq[String] = {
    val root = new org.apache.hadoop.fs.Path(tableDir)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(root)) return Nil
    val prefix = partitionCol + "="
    val expired = fs.listStatus(root).toSeq
      .filter(s => s.isDirectory && s.getPath.getName.startsWith(prefix))
      .map(s => (s.getPath, s.getPath.getName.stripPrefix(prefix)))
      .filter(_._2 < keepFrom)
      .sortBy(_._2)
    expired.foreach { case (p, _) => fs.delete(p, true) }
    expired.map(_._2)
  }

  /** Replace `targetDir` with whatever `write` produces, without ever
    * deleting the live copy before its successor exists: write to a
    * staging dir, move the old target ASIDE (rename, not delete),
    * rename the staging dir in, delete the old copy last. A crash at
    * any step leaves either the old or the new target resolvable —
    * never neither (the remaining window is the single non-atomic
    * aside+rename pair, the best plain-FS parquet can do; a lakehouse
    * table format turns this into a metadata commit). Filesystem is
    * resolved from the TARGET's scheme, not the default FS. */
  def atomicReplace(spark: org.apache.spark.sql.SparkSession,
      targetDir: String)(write: String => Unit): Unit =
    atomicReplaceIf(spark, targetDir)(write)(_ => true)

  /** [[atomicReplace]] that publishes the staged copy only when
    * `publish` accepts what `write` returned; otherwise the staging dir
    * is deleted and the target stays as it was. A `publish` that throws
    * fails the replace like a failed `write`. Crash recovery of an
    * interrupted earlier swap runs first either way. Returns `write`'s
    * result. */
  def atomicReplaceIf[A](spark: org.apache.spark.sql.SparkSession,
      targetDir: String)(write: String => A)(publish: A => Boolean): A = {
    val conf = spark.sparkContext.hadoopConfiguration
    // Path normalizes trailing slashes — siblings MUST derive from the
    // normalized form, or "/data/t/" would stage INSIDE the target
    val dst = new org.apache.hadoop.fs.Path(targetDir)
    val fs = dst.getFileSystem(conf)
    // sweep leftovers of earlier failed/crashed replaces (a partial
    // __staged_ from a write that threw, an __old_ copy orphaned by a
    // crash after publish) so retries don't accumulate stale siblings;
    // single-writer-per-target is assumed, as for any plain-FS swap
    if (fs.exists(dst.getParent)) {
      val siblings = fs.listStatus(dst.getParent).toSeq.map(_.getPath)
      val olds = siblings.filter(_.getName.startsWith(dst.getName + "__old_"))
      // crash BETWEEN aside and publish: __old_ is the only surviving
      // copy — restore it, never sweep it
      if (!fs.exists(dst)) olds.sortBy(_.getName).headOption
        .foreach(p => fs.rename(p, dst))
      val stale =
        siblings.filter(_.getName.startsWith(dst.getName + "__staged_")) ++ olds
      // a restored __old_ was renamed away — exists() skips it
      stale.foreach(p => if (fs.exists(p)) fs.delete(p, true))
    }
    val tag = java.util.UUID.randomUUID().toString.take(8)
    val staging = new org.apache.hadoop.fs.Path(dst.toString + s"__staged_$tag")
    val aside = new org.apache.hadoop.fs.Path(dst.toString + s"__old_$tag")
    val (out, accepted) =
      try {
        val out = write(staging.toString)
        (out, publish(out))
      } catch {
        case e: Throwable =>
          // never leave a half-written staging dir behind the live target
          fs.delete(staging, true)
          throw e
      }
    if (!accepted) fs.delete(staging, true)
    else {
      val hadOld = fs.exists(dst)
      if (hadOld) {
        require(fs.rename(dst, aside), s"could not move $dst aside")
      }
      if (!fs.rename(staging, dst)) {
        // restore the old target before failing — never leave it missing
        if (hadOld) fs.rename(aside, dst)
        throw new java.io.IOException(s"could not publish $staging to $dst")
      }
      if (hadOld) fs.delete(aside, true)
    }
    out
  }
}
