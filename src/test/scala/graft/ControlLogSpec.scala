package graft

import java.io.File
import java.nio.file.Files

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, SaveMode}
import org.apache.spark.sql.functions._

import graft.operators.{ControlLog, EtlControl}
import graft.sources.{PagedRestSource, ParquetMeta}

/** The driver-side control plane under [[EtlControl]]: lease release,
  * logs written by Spark's writer and by the driver side by side, the
  * Spark jobs control work may cost, and the snapshot fold's bound and
  * crash safety. */
class ControlLogSpec extends SparkTestBase {
  import spark.implicits._

  private val K = ControlLog.FoldThreshold

  private def tmp(p: String) = Files.createTempDirectory(p).toString

  /** Non-hidden files of a log directory — what Spark's file index reads. */
  private def visible(dir: String): Seq[String] =
    Option(new File(dir).listFiles).toSeq.flatten.map(_.getName)
      .filterNot(n => n.startsWith("_") || n.startsWith(".")).sorted

  /** The pre-change writer: one Spark job appending a one-row file with
    * an INT96 `committed_at`/`completed_at`. */
  private def sparkAppend(dir: String, row: DataFrame): Unit =
    row.coalesce(1).write.mode(SaveMode.Append).parquet(dir)

  private def oldCommits(dir: String,
      rows: Seq[(String, String, Long, Long, String, Long)]): Unit =
    sparkAppend(dir, rows
      .toDF("source_id", "batch_id", "watermark_us", "records_loaded", "status", "at")
      .withColumn("committed_at", timestamp_micros(col("at"))).drop("at"))

  private def oldDurations(dir: String,
      rows: Seq[(String, String, Double, String, Long)]): Unit =
    sparkAppend(dir, rows
      .toDF("source_id", "batch_id", "duration_sec", "status", "at")
      .withColumn("completed_at", timestamp_micros(col("at"))).drop("at"))

  /** Spark jobs `body` starts on this thread. */
  private def jobsOf(body: => Unit): Int = {
    val sc = spark.sparkContext
    val groups = new java.util.concurrent.ConcurrentLinkedQueue[String]
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        groups.add(Option(e.properties)
          .flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).getOrElse(""))
    }
    def inGroup(g: String)(f: => Unit): Unit = {
      sc.setJobGroup(g, g)
      try f finally sc.clearJobGroup()
    }
    sc.addSparkListener(listener)
    try {
      inGroup("control-body")(body)
      // listener events arrive in order: once the marker job is seen,
      // every job before it has been
      inGroup("control-marker")(sc.parallelize(Seq(1), 1).count())
      val deadline = System.nanoTime() + 30000000000L
      while (!groups.contains("control-marker") && System.nanoTime() < deadline)
        Thread.sleep(10)
      assert(groups.contains("control-marker"))
    } finally sc.removeSparkListener(listener)
    groups.toArray.count(_ == "control-body")
  }

  test("a stale holder's release leaves its taker's live lease in place") {
    val control = tmp("lease-release")
    val a = EtlControl.acquireRunLease(spark, control, "events", "A",
      ttlMs = 5000L, nowMs = () => 1000L)
    // A stalls past its ttl; B takes the stale lease over
    val b = EtlControl.acquireRunLease(spark, control, "events", "B",
      ttlMs = 5000L, nowMs = () => 6001L)
    a.release() // A finishes late: must not free B's slot
    intercept[EtlControl.LeaseHeldException] {
      EtlControl.acquireRunLease(spark, control, "events", "C",
        ttlMs = 5000L, nowMs = () => 6500L)
    }
    b.release()
    EtlControl.acquireRunLease(spark, control, "events", "D",
      ttlMs = 5000L, nowMs = () => 6600L).release()
    assert(new File(control).listFiles().map(_.getName)
      .filter(_.startsWith("_lease_events")).isEmpty)
  }

  test("a log mixing Spark-written, driver-written and snapshot files reads like an all-Spark-written log") {
    val root = tmp("mixed-log")
    val (control, durations) = (s"$root/control", s"$root/durations")
    val t0 = 1704067200000000L
    // the store as the Spark writer left it
    val nOld = K / 2 - 1
    for (i <- 0 until nOld) {
      oldCommits(control, Seq((if (i % 2 == 0) "a" else "b", s"old$i",
        t0 + i * 1000L, 10L + i, if (i == 1) "IDLE" else "SUCCESS", t0 + i)))
      oldDurations(durations, Seq((if (i % 2 == 0) "a" else "b", s"old$i",
        1.0 + i, "SUCCESS", t0 + i)))
    }
    def sameAsAllOld(): Unit = {
      // the all-old-format log with the same rows, row for row
      val ref = tmp("mixed-ref")
      val (refControl, refDurations) = (s"$ref/control", s"$ref/durations")
      def micros(t: java.sql.Timestamp) =
        java.time.temporal.ChronoUnit.MICROS.between(java.time.Instant.EPOCH, t.toInstant)
      oldCommits(refControl, spark.read.parquet(control).collect().toSeq.map(r =>
        (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3),
          r.getString(4), micros(r.getTimestamp(5)))))
      oldDurations(refDurations, spark.read.parquet(durations).collect().toSeq.map(r =>
        (r.getString(0), r.getString(1), r.getDouble(2), r.getString(3),
          micros(r.getTimestamp(4)))))
      def sorted(df: DataFrame) = df.collect().map(_.toString).sorted.toSeq
      for (s <- Seq("a", "b", "c")) {
        assert(EtlControl.lastWatermarkMicros(spark, control, s, -1L) ==
          EtlControl.lastWatermarkMicros(spark, refControl, s, -1L))
        assert(EtlControl.expectedRowBounds(spark, control, s) ==
          EtlControl.expectedRowBounds(spark, refControl, s))
        assert(EtlControl.expectedDurationBounds(spark, durations, s) ==
          EtlControl.expectedDurationBounds(spark, refDurations, s))
      }
      assert(sorted(EtlControl.runHistory(spark, control, durations)) ==
        sorted(EtlControl.runHistory(spark, refControl, refDurations)))
      assert(sorted(EtlControl.successRate(spark, control, durations)) ==
        sorted(EtlControl.successRate(spark, refControl, refDurations)))
      for ((d, r) <- Seq(control -> refControl, durations -> refDurations)) {
        assert(spark.read.parquet(d).schema == spark.read.parquet(r).schema)
        assert(sorted(spark.read.parquet(d)) == sorted(spark.read.parquet(r)))
      }
    }
    // driver-written entries next to the Spark-written ones
    for (i <- 0 until K / 2) {
      EtlControl.commitRun(spark, control, "a", s"new$i", t0 + 10000L + i, 20L + i)
      EtlControl.logRunDuration(spark, durations, "a", s"new$i", 2.5 + i)
    }
    assert(!visible(control).exists(_.startsWith("snapshot-")))
    sameAsAllOld()
    // enough appends to fold both logs, then Spark-written rows again
    for (i <- K / 2 until K) {
      EtlControl.commitRun(spark, control, if (i % 3 == 0) "b" else "a",
        s"new$i", t0 + 10000L + i, 20L + i, if (i == K - 1) "IDLE" else "SUCCESS")
      EtlControl.logRunDuration(spark, durations, "b", s"new$i", 2.5 + i)
    }
    oldCommits(control, Seq(("b", "late", t0 + 5L, 99L, "SUCCESS", t0 + 99L)))
    oldDurations(durations, Seq(("a", "late", 9.0, "SUCCESS", t0 + 99L)))
    for (d <- Seq(control, durations)) {
      assert(visible(d).count(_.startsWith("snapshot-")) == 1, visible(d))
      assert(visible(d).exists(_.endsWith(".snappy.parquet")), visible(d))
    }
    sameAsAllOld()
  }

  test("control-log appends and point reads run no Spark job; a small incremental cycle runs at most 4") {
    val root = tmp("control-jobs")
    val (control, target) = (s"$root/control", s"$root/target")
    val t0 = 1704067200000000L
    val events = Tables.loadEvents(spark, sf0001)
      .select("event_id", "ts", "user_id", "event_type", "value")
    val first = events.where(col("ts") < lit("2024-01-10").cast("timestamp"))
    val second = events.where(col("ts") < lit("2024-01-11").cast("timestamp"))
    EtlControl.runIncrementalCycle(spark, control, "events", first, "ts",
      Seq("event_id"), target, t0, "b1")
    val landing = s"$root/landing"
    PagedRestSource.fetchToLanding(spark,
      _ => PagedRestSource.Page(Seq("""{"x":1}"""), None), landing)

    assert(jobsOf {
      EtlControl.commitRun(spark, control, "other", "b1", 5L, 1L)
      EtlControl.logRunDuration(spark, s"$root/durations", "events", "b1", 1.0)
      EtlControl.logTaskFailure(spark, s"$root/failures", "events", "b1",
        "load", new IllegalStateException("boom"))
      assert(EtlControl.lastWatermarkMicros(spark, control, "events", t0) > t0)
      assert(EtlControl.expectedRowBounds(spark, control, "events").nonEmpty)
      assert(EtlControl.expectedDurationBounds(spark, s"$root/durations",
        "events").nonEmpty)
      PagedRestSource.readLanding(spark, landing)
      ParquetMeta.readParquet(spark, target)
    } == 0)
    val cycleJobs = jobsOf {
      EtlControl.runIncrementalCycle(spark, control, "events", second, "ts",
        Seq("event_id"), target, t0, "b2")
    }
    assert(cycleJobs <= 4, s"$cycleJobs jobs")
    assert(spark.read.parquet(target).count() == second.count())
  }

  test("footer-schema reads equal spark.read.parquet, and fall back without a Spark footer") {
    import org.apache.parquet.example.data.simple.SimpleGroup
    import org.apache.parquet.hadoop.example.ExampleParquetWriter
    val root = tmp("footer-schema")
    val events = Tables.loadEvents(spark, sf0001)
    events.write.parquet(s"$root/flat")
    events.write.partitionBy("event_type").parquet(s"$root/parted")
    // a file from a writer that stamps no Spark schema
    val plainType = org.apache.parquet.schema.MessageTypeParser
      .parseMessageType("message m { required int64 x; }")
    val w = ExampleParquetWriter.builder(
      new org.apache.hadoop.fs.Path(s"$root/foreign/part-0.parquet"))
      .withType(plainType).build()
    try w.write(new SimpleGroup(plainType).append("x", 7L)) finally w.close()
    assert(ParquetMeta.footerSchema(spark, s"$root/foreign").isEmpty)
    assert(ParquetMeta.readParquet(spark, s"$root/foreign").collect()
      .map(_.getLong(0)).toSeq == Seq(7L))
    for (d <- Seq(s"$root/flat", s"$root/parted")) {
      val (viaFooter, plain) = (ParquetMeta.readParquet(spark, d), spark.read.parquet(d))
      assert(viaFooter.schema == plain.schema)
      assert(viaFooter.except(plain).isEmpty && plain.except(viaFooter).isEmpty)
    }
    assert(ParquetMeta.footerSchema(spark, s"$root/flat").nonEmpty)
    assert(ParquetMeta.footerSchema(spark, s"$root/parted").isEmpty)
  }

  test("after N >> K commits a log holds at most K+1 files and reads every row once") {
    val control = tmp("fold-bound")
    val n = 10 * K + 3
    for (i <- 0 until n) {
      EtlControl.commitRun(spark, control, s"s${i % 3}", s"b$i", i.toLong, 1L)
      assert(visible(control).length <= K + 1, s"after ${i + 1} commits: ${visible(control)}")
    }
    for (s <- 0 until 3)
      assert(EtlControl.lastWatermarkMicros(spark, control, s"s$s", -1L) ==
        (0 until n).filter(_ % 3 == s).max)
    val log = spark.read.parquet(control)
    assert(log.count() == n)
    assert(log.select("batch_id").distinct().count() == n)
    assert(EtlControl.runHistory(spark, control).count() == n)
  }

  test("concurrent appends that fold land every row exactly once") {
    val control = tmp("fold-concurrent")
    val (threads, each) = (4, 3 * K)
    val errors = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]
    val start = new java.util.concurrent.CyclicBarrier(threads)
    val ts = (0 until threads).map { t =>
      new Thread(() =>
        try {
          start.await()
          for (i <- 0 until each)
            EtlControl.commitRun(spark, control, s"src$t", s"b$i", i.toLong, 1L)
        } catch { case e: Throwable => errors.add(e); () })
    }
    ts.foreach(_.start())
    ts.foreach(_.join())
    assert(errors.isEmpty, errors.toArray.mkString("; "))
    val log = spark.read.parquet(control)
    assert(log.count() == threads * each)
    assert(log.select("source_id", "batch_id").distinct().count() == threads * each)
    for (t <- 0 until threads)
      assert(EtlControl.lastWatermarkMicros(spark, control, s"src$t", -1L) == each - 1)
  }

  test("a fold that crashes at any step leaves a log that reads the same; the next append finishes it") {
    val t0 = 1704067200000000L
    final class Crash extends RuntimeException("crash")
    def src(i: Int) = if (i % 2 == 0) "a" else "b"
    // every fold step: before the rename, after it, after each deletion
    val points = Seq(("written", 1), ("renamed", 1)) ++
      (1 to K + 1).map(("deleted", _))
    // the duration log and dedup assignment the readers join/consult
    val shared = tmp("fold-crash-shared")
    val (durations, assign) = (s"$shared/durations", s"$shared/assign")
    Seq((1L, 1L)).toDF("node", "component").write.parquet(assign)
    for (i <- 0 to K + 1)
      EtlControl.logRunDuration(spark, durations, src(i), s"b$i", 1.0 + i)
    for ((step, nth) <- points) withClue(s"crash at $step #$nth: ") {
      val root = tmp("fold-crash")
      val (control, ref) = (s"$root/control", s"$root/ref")
      def commit(i: Int): Unit =
        EtlControl.commitRun(spark, control, src(i), s"b$i", t0 + i, 10L + i,
          if (i == 5) "IDLE" else "SUCCESS")
      (0 until K).foreach(commit)
      var seen = 0
      ControlLog.foldTestHook = s => {
        if (s == "written" && !new File(ref).exists()) {
          // the unfolded log, for reference: the files the fold read
          new File(ref).mkdirs()
          visible(control).foreach(f => Files.copy(
            new File(control, f).toPath, new File(ref, f).toPath))
        }
        if (s == step) { seen += 1; if (seen == nth) throw new Crash }
      }
      try commit(K) finally ControlLog.foldTestHook = _ => ()
      assert(seen == nth)
      def readings(dir: String) = (
        Seq("a", "b").map(EtlControl.lastWatermarkMicros(spark, dir, _, -1L)),
        Seq("a", "b").map(EtlControl.expectedRowBounds(spark, dir, _)),
        EtlControl.runHistory(spark, dir, durations).collect().map(_.toString).sorted.toSeq,
        EtlControl.successRate(spark, dir, durations).collect().map(_.toString).toSeq,
        // a committed batch is skipped without a fold (applied = false)
        Seq(0, K).map(i => EtlControl.runDedupCycle(spark, dir, src(i),
          Seq.empty[(Long, Long)].toDF("x", "y"), "x", "y", assign, s"b$i")._2))
      val crashed = readings(control)
      assert(crashed == readings(ref))
      assert(crashed._1 == Seq(t0 + K, t0 + K - 1))
      assert(!crashed._5.exists(identity))
      // the next append finishes the fold: no superseded file, no temp
      commit(K + 1)
      val files = visible(control)
      assert(files.count(_.startsWith("snapshot-")) == 1, files)
      assert(files.length <= 2, files)
      assert(!new File(control).list().exists(_.startsWith("_fold-")))
      assert(spark.read.parquet(control).count() == K + 2)
      assert(EtlControl.lastWatermarkMicros(spark, control, "b", -1L) == t0 + K + 1)
    }
  }
}
