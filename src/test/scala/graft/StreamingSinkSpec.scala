package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.operators.{Dedup, Incremental}
import graft.streaming.StreamingDedup.Upd
import graft.streaming.StreamingSink

class StreamingSinkSpec extends SparkTestBase {

  private def runBatches(target: String, batches: Seq[Seq[Upd]]): Unit = {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val input = MemoryStream[Upd]
    batches.foreach(b => input.addData(b))
    val query = StreamingSink.upsertSink(spark, input.toDF(), target,
      Seq("key"), "seq").start()
    try query.awaitTermination() finally query.stop()
  }

  test("foreachBatch upsert sink: target equals batch keep-last of the full feed") {
    val target = java.nio.file.Files
      .createTempDirectory("graft_sink").toString + "/t"
    val feed = Seq(
      Seq(Upd(1L, 1L, "created", 10.0), Upd(2L, 1L, "created", 5.0)),
      Seq(Upd(1L, 2L, "paid", 12.0), Upd(3L, 1L, "created", 7.0)),
      // stale replay of key 1 seq 1 — must not displace seq 2
      Seq(Upd(1L, 1L, "created", 10.0)))
    runBatches(target, feed)

    import spark.implicits._
    val got = spark.read.parquet(target).as[Upd].collect().sortBy(_.key).toSeq
    val expected = Dedup.keepLast(
        feed.flatten.toDF(), Seq("key"), Seq(col("seq")))
      .as[Upd].collect().sortBy(_.key).toSeq
    assert(got == expected)
    assert(got.map(u => u.key -> u.status) ==
      Seq(1L -> "paid", 2L -> "created", 3L -> "created"))
  }

  test("sink is idempotent under full-feed replay") {
    val target = java.nio.file.Files
      .createTempDirectory("graft_sink").toString + "/t"
    val feed = Seq(
      Seq(Upd(1L, 1L, "created", 10.0)),
      Seq(Upd(1L, 2L, "paid", 12.0)))
    runBatches(target, feed)
    val first = spark.read.parquet(target).collect().toSet
    runBatches(target, feed) // at-least-once source replays everything
    val second = spark.read.parquet(target).collect().toSet
    assert(first == second, "replaying the feed must not change the target")
  }

  private def runPartitionedBatches(target: String, batches: Seq[Seq[Upd]],
      nBuckets: Int): Unit = {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val input = MemoryStream[Upd]
    batches.foreach(b => input.addData(b))
    val query = StreamingSink.upsertSinkPartitioned(spark, input.toDF(), target,
      Seq("key"), "seq", nBuckets).start()
    try query.awaitTermination() finally query.stop()
  }

  test("partitioned sink: keep-last semantics + replay idempotence") {
    val target = java.nio.file.Files
      .createTempDirectory("graft_psink").toString + "/t"
    val feed = Seq(
      (1L to 40L).map(k => Upd(k, 1L, "created", k.toDouble)),
      Seq(Upd(1L, 2L, "paid", 12.0), Upd(41L, 1L, "created", 7.0)),
      Seq(Upd(1L, 1L, "created", 10.0))) // stale replay must lose
    runPartitionedBatches(target, feed, nBuckets = 8)
    import spark.implicits._
    val got = StreamingSink.readPartitioned(spark, target)
      .as[Upd].collect().sortBy(_.key).toSeq
    val expected = Dedup.keepLast(
        feed.flatten.toDF(), Seq("key"), Seq(col("seq")))
      .as[Upd].collect().sortBy(_.key).toSeq
    assert(got == expected)
    val first = got
    runPartitionedBatches(target, feed, nBuckets = 8) // full replay
    val second = StreamingSink.readPartitioned(spark, target)
      .as[Upd].collect().sortBy(_.key).toSeq
    assert(second == first, "replaying the feed must not change the target")
  }

  test("partitioned sink rewrites only touched buckets; others byte-identical") {
    val target = java.nio.file.Files
      .createTempDirectory("graft_psink2").toString + "/t"
    // batch 1 populates many buckets; batch 2 touches exactly one key
    runPartitionedBatches(target,
      Seq((1L to 60L).map(k => Upd(k, 1L, "created", k.toDouble))),
      nBuckets = 8)
    val fs = new org.apache.hadoop.fs.Path(target)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    def stamps: Map[String, Seq[(String, Long, Long)]] = fs
      .listStatus(new org.apache.hadoop.fs.Path(target)).toSeq
      .filter(_.getPath.getName.startsWith("__kb="))
      .map { d =>
        d.getPath.getName -> fs.listStatus(d.getPath).toSeq
          .map(f => (f.getPath.getName, f.getLen, f.getModificationTime))
          .sorted
      }.toMap
    val before = stamps
    assert(before.size > 1, s"expected several buckets, got ${before.keys}")
    runPartitionedBatches(target,
      Seq(Seq(Upd(7L, 2L, "paid", 1.0))), nBuckets = 8)
    val after = stamps
    val touched = before.keys.filter(k => before(k) != after.getOrElse(k, Nil))
    assert(touched.size == 1,
      s"exactly one bucket dir should change, got ${touched.toSeq.sorted}")
    // untouched buckets: same files, sizes, mtimes — never rewritten
    (before.keySet - touched.head).foreach { k =>
      assert(before(k) == after(k), s"bucket $k was rewritten")
    }
  }

  /** The MERGE-agreement feed: new keys, a higher-seq update, a stale
    * replay that must lose, and a later delivery repeating a target
    * row's key and seq with another payload, which must win. */
  private val mergeFeed = Seq(
    Seq(Upd(1L, 1L, "created", 10.0), Upd(2L, 1L, "created", 5.0)),
    Seq(Upd(1L, 2L, "paid", 12.0), Upd(3L, 1L, "created", 7.0)),
    Seq(Upd(1L, 1L, "created", 10.0)),
    Seq(Upd(2L, 1L, "cancelled", 0.0)))

  private def tmpTarget(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString + "/t"

  test("one MERGE: mergeInto, upsertSink and upsertSinkPartitioned keep the same rows") {
    import spark.implicits._
    val direct = tmpTarget("graft_merge")
    mergeFeed.foreach(b => Incremental.mergeInto(spark, direct, b.toDF(),
      Seq("key"), Seq(col("seq"))))
    // one query per batch, so every batch is its own delivery
    val whole = tmpTarget("graft_sink")
    mergeFeed.foreach(b => runBatches(whole, Seq(b)))
    val bucketed = tmpTarget("graft_psink")
    mergeFeed.foreach(b => runPartitionedBatches(bucketed, Seq(b), nBuckets = 4))

    def rows(df: org.apache.spark.sql.DataFrame): Set[Upd] = df.as[Upd].collect().toSet
    val want = Set(Upd(1L, 2L, "paid", 12.0), Upd(2L, 1L, "cancelled", 0.0),
      Upd(3L, 1L, "created", 7.0))
    assert(rows(spark.read.parquet(direct)) == want, "mergeInto")
    assert(rows(spark.read.parquet(whole)) == want, "upsertSink")
    assert(rows(StreamingSink.readPartitioned(spark, bucketed)) == want,
      "upsertSinkPartitioned")
  }

  test("mergeInto: a target left aside by an interrupted swap is merged into, not replaced") {
    import spark.implicits._
    val target = tmpTarget("graft_merge_aside")
    Incremental.mergeInto(spark, target, mergeFeed.head.toDF(), Seq("key"),
      Seq(col("seq")))
    // a crash between atomicReplace's move-aside and its publish
    val fs = new org.apache.hadoop.fs.Path(target)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(fs.rename(new org.apache.hadoop.fs.Path(target),
      new org.apache.hadoop.fs.Path(target + "__old_crashed")))
    Incremental.mergeInto(spark, target, Seq(Upd(3L, 1L, "created", 7.0)).toDF(),
      Seq("key"), Seq(col("seq")))
    assert(spark.read.parquet(target).as[Upd].collect().map(_.key).sorted.toSeq ==
      Seq(1L, 2L, 3L))
  }

  test("sketch-artifact sink: merged artifacts equal exact distincts; replay-safe") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-sketchsink")
      .toFile.getAbsolutePath
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    val feed = Seq(
      Seq((ts("2024-01-01 10:00:00"), "click", 1L),
        (ts("2024-01-01 11:00:00"), "click", 2L),
        (ts("2024-01-01 12:00:00"), "view", 1L)),
      Seq((ts("2024-01-01 13:00:00"), "click", 2L), // dup user, same day
        (ts("2024-01-02 09:00:00"), "click", 3L)))
    def run(): Unit = {
      val input = MemoryStream[(java.sql.Timestamp, String, Long)]
      feed.foreach(b => input.addData(b))
      val q = StreamingSink.sketchArtifactSink(
        input.toDF().toDF("ts", "event_type", "user_id"),
        dir, "event_type", "user_id").start()
      try q.awaitTermination() finally q.stop()
    }
    run()
    def merged = graft.operators.Stats
      .mergeSketches(spark.read.parquet(dir), Seq("batch_date", "event_type"))
      .collect()
      .map(r => (r.getDate(0).toString, r.getString(1)) -> r.getLong(2)).toMap
    val expected = Map( // exact distinct users per (day, type)
      ("2024-01-01", "click") -> 2L, ("2024-01-01", "view") -> 1L,
      ("2024-01-02", "click") -> 1L)
    assert(merged === expected)
    // replay: an identical run overwrites its own batch dirs — no drift
    run()
    assert(merged === expected)
  }

  test("CMS-artifact sink: merged sketches give exact heavy hitters; replay-safe") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-cmssink")
      .toFile.getAbsolutePath
    val feed = Seq(
      (1 to 30).map(i => ("hot", i.toLong)) ++ Seq(("warm", 1L), ("cold", 2L)),
      (1 to 25).map(i => ("warm", 100L + i)) ++ Seq(("hot", 99L)))
    def run(): Unit = {
      val input = MemoryStream[(String, Long)]
      feed.foreach(b => input.addData(b))
      val q = StreamingSink.cmsArtifactSink(
        input.toDF().toDF("k", "v"), dir, Seq("k")).start()
      try q.awaitTermination() finally q.stop()
    }
    def heavies(): Map[String, Long] = {
      val log = spark.read.parquet(dir)
      assert(log.agg(sum("n_rows")).head.getLong(0) === feed.map(_.size).sum)
      val merged = graft.operators.HeavyHitters.merge(
        log.select("sketch").collect().map(_.getAs[Array[Byte]](0)).toSeq)
      graft.operators.HeavyHitters
        .fromSketch(feed.flatten.toDF("k", "v"), Seq("k"), 25L, merged)
        .as[(String, Long)].collect().toMap
    }
    run()
    // exact over the full stream: hot=31, warm=26, cold=1 pruned
    assert(heavies() === Map("hot" -> 31L, "warm" -> 26L))
    // replay: identical run overwrites its own batch dirs — no drift
    run()
    assert(heavies() === Map("hot" -> 31L, "warm" -> 26L))
  }

  test("profile-artifact sink: batch profiles drive drift detection; replay-safe") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-profsink")
      .toFile.getAbsolutePath
    val w0 = Seq(("a", 10.0), ("a", 10.0), ("b", 5.0), ("c", 7.0))
    val w1 = Seq(("a", 10.4), ("a", 10.6), ("new", 9.0), ("c", 7.001))
    def run(window: Seq[(String, Double)], sub: String): Unit = {
      val input = MemoryStream[(String, Double)]
      input.addData(window)
      val q = StreamingSink.profileArtifactSink(
        input.toDF().toDF("k", "v"), s"$dir/$sub", "k", "v").start()
      try q.awaitTermination() finally q.stop()
    }
    def drift(): Map[String, Boolean] =
      graft.operators.Validate.driftFromProfiles(
          spark.read.parquet(s"$dir/w1").drop("batch_id"),
          spark.read.parquet(s"$dir/w0").drop("batch_id"),
          "k", relTol = 0.03)
        .select("k", "is_drift").as[(String, Boolean)].collect().toMap
    run(w0, "w0"); run(w1, "w1")
    val expected = Map(
      "a" -> true,   // mean 10 → 10.5 = 5% > 3%
      "b" -> true,   // disappeared
      "new" -> true, // appeared
      "c" -> false)  // 0.014% shift
    assert(drift() === expected)
    // replay: an identical window run overwrites its own batch dir
    run(w1, "w1")
    assert(drift() === expected)
  }

  test("stream-static dim enrichment plans a broadcast join, no stream shuffle") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val input = MemoryStream[Upd]
    val dim = Seq((1L, "VN"), (2L, "SG")).toDF("dim_key", "region")
    val enriched = StreamingSink.enrichWithDim(
      input.toDF(), dim, "key", "dim_key")
    val query = enriched.writeStream
      .format("memory").queryName("enriched_out").outputMode("append").start()
    try {
      input.addData(Upd(1L, 1L, "created", 10.0), Upd(9L, 1L, "created", 1.0))
      query.processAllAvailable()
      val rows = spark.sql(
        "SELECT key, region FROM enriched_out ORDER BY key")
        .collect().map(r => (r.getLong(0), Option(r.getString(1)))).toSeq
      assert(rows == Seq(1L -> Some("VN"), 9L -> None))
      assert(query.lastProgress.sources.nonEmpty)
    } finally query.stop()
    val plan = enriched.queryExecution.analyzed.toString
    assert(plan.contains("hint") || {
      // physical check on the batch-equivalent plan: broadcast join
      val p = Seq(Upd(1L, 1L, "a", 0.0)).toDF()
        .join(broadcast(dim), col("key") === col("dim_key"), "left")
        .queryExecution.executedPlan.toString
      p.contains("BroadcastHashJoin")
    })
  }
}
