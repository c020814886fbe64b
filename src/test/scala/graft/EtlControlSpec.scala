package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import graft.operators.EtlControl

class EtlControlSpec extends SparkTestBase {

  private def feed(upTo: String) =
    Tables.loadEvents(spark, sf0001)
      .select("event_id", "ts", "user_id", "event_type", "value")
      .where(col("ts") < lit(upTo).cast("timestamp"))

  /** Every regular file under `dir`, by relative path, with its bytes. */
  private def files(dir: String): Map[String, Seq[Byte]] = {
    val root = java.nio.file.Paths.get(dir)
    val walk = Files.walk(root)
    try walk.filter(Files.isRegularFile(_)).toArray.toSeq.map { f =>
      val path = f.asInstanceOf[java.nio.file.Path]
      root.relativize(path).toString -> Files.readAllBytes(path).toSeq
    }.toMap
    finally walk.close()
  }

  test("dedup-cluster cycle: daily pair batches fold exactly-once; crash replay converges to the full rebuild") {
    import spark.implicits._
    import graft.operators.DupGroups
    val control = Files.createTempDirectory("dedup-control").toString
    val assign = Files.createTempDirectory("dedup-assign").toString + "/cc"
    val p1 = Seq((1L, 2L), (2L, 3L), (10L, 11L), (20L, 21L))
    val p2 = Seq((3L, 10L), (40L, 41L)) // merges {1,2,3}∪{10,11}
    val p3 = Seq((0L, 21L), (41L, 99L)) // new min node + chain growth

    def assignment: Map[Long, Long] = spark.read.parquet(assign)
      .as[(Long, Long)].collect().toMap
    def fullRebuild(batches: Seq[(Long, Long)]*): Map[Long, Long] =
      DupGroups.connectedComponents(batches.flatten.toDF("a", "b"), "a", "b")
        .as[(Long, Long)].collect().toMap

    // day 1 bootstraps, day 2 folds incrementally — each equals a
    // from-scratch CC over everything delivered so far
    EtlControl.runDedupCycle(spark, control, "pairs", p1.toDF("a", "b"),
      "a", "b", assign, batchId = "d1", watermarkUs = 1L)
    assert(assignment == fullRebuild(p1))
    EtlControl.runDedupCycle(spark, control, "pairs", p2.toDF("a", "b"),
      "a", "b", assign, batchId = "d2", watermarkUs = 2L)
    assert(assignment == fullRebuild(p1, p2))

    // redelivery of a COMMITTED batch: skipped without touching anything
    val stamp = assignment
    val (_, applied) = EtlControl.runDedupCycle(spark, control, "pairs",
      p2.toDF("a", "b"), "a", "b", assign, batchId = "d2", watermarkUs = 2L)
    assert(!applied && assignment == stamp)

    // worst-ordered crash: day 3 publishes its assignment but never
    // commits; the replayed delivery re-folds the same pairs (a no-op
    // by updateClusters idempotence) and lands the commit
    EtlControl.runDedupCycle(spark, control, "pairs", p3.toDF("a", "b"),
      "a", "b", assign, batchId = "d3", watermarkUs = 3L,
      failBeforeCommit = true)
    val (_, replayApplied) = EtlControl.runDedupCycle(spark, control, "pairs",
      p3.toDF("a", "b"), "a", "b", assign, batchId = "d3", watermarkUs = 3L)
    assert(replayApplied)
    assert(assignment == fullRebuild(p1, p2, p3))
    assert(assignment(20L) == 0L && assignment(99L) == 40L)

    // and a fourth delivery of the now-committed batch is skipped
    val (_, again) = EtlControl.runDedupCycle(spark, control, "pairs",
      p3.toDF("a", "b"), "a", "b", assign, batchId = "d3", watermarkUs = 3L)
    assert(!again)
  }

  test("backfill soak: 10 out-of-order batches with duplicates and crashes equal the full rebuild") {
    import spark.implicits._
    import graft.operators.DupGroups
    val control = Files.createTempDirectory("soak-control").toString
    val assign = Files.createTempDirectory("soak-assign").toString + "/cc"

    // batch i: a chain inside its own id block, a merge edge back into
    // the previous block (so components grow ACROSS batches), and a
    // duplicate of one earlier edge (cross-batch duplicate delivery)
    def mkBatch(i: Int): Seq[(Long, Long)] = {
      val base = i * 100L
      val chain = (0 until 6).map(j => (base + j, base + j + 1))
      val merge = if (i > 0) Seq((base, base - 100L + 3)) else Nil
      val dup = if (i > 1) Seq(((i - 1) * 100L, (i - 1) * 100L + 1)) else Nil
      chain ++ merge ++ dup
    }
    val batches = (0 until 10).map(mkBatch)
    // out-of-order arrival (fixed shuffle), two batches redelivered,
    // two arriving first as a worst-ordered crash
    val arrival = Seq(2, 0, 5, 1, 4, 3, 8, 6, 9, 7)
    val crashed = Set(5, 9)
    val redelivered = Set(1, 6)

    def assignment: Map[Long, Long] = spark.read.parquet(assign)
      .as[(Long, Long)].collect().toMap
    var delivered = Seq.empty[(Long, Long)]
    arrival.foreach { i =>
      val df = batches(i).toDF("a", "b")
      if (crashed(i)) {
        EtlControl.runDedupCycle(spark, control, "soak", df, "a", "b",
          assign, batchId = s"b$i", watermarkUs = i.toLong,
          failBeforeCommit = true)
      }
      EtlControl.runDedupCycle(spark, control, "soak", df, "a", "b",
        assign, batchId = s"b$i", watermarkUs = i.toLong)
      if (redelivered(i)) {
        val stamp = assignment
        val (_, applied) = EtlControl.runDedupCycle(spark, control, "soak",
          df, "a", "b", assign, batchId = s"b$i", watermarkUs = i.toLong)
        assert(!applied && assignment == stamp,
          s"redelivered committed batch b$i must be skipped untouched")
      }
      delivered ++= batches(i)
      // invariant after EVERY fold: the maintained assignment equals a
      // from-scratch CC over everything delivered so far
      assert(assignment ==
        DupGroups.connectedComponents(delivered.toDF("a", "b"), "a", "b")
          .as[(Long, Long)].collect().toMap,
        s"assignment diverged from full rebuild after batch b$i")
    }
    // all ten blocks merged into one component rooted at node 0
    val a = assignment
    assert(a(903L) == 0L && a(500L) == 0L && a.values.toSet == Set(0L))
    // control log: exactly 10 SUCCESS commits (crashes and redeliveries
    // never double-commit)
    val ok = spark.read.parquet(control)
      .where(col("source_id") === "soak" && col("status") === "SUCCESS")
    assert(ok.count() == 10)
  }

  test("two incremental cycles + crash-replay land every row exactly once") {
    val dir = Files.createTempDirectory("etlctl").toString
    val control = s"$dir/control"
    val target = s"$dir/target"
    val t0 = 1704067200000000L // 2024-01-01 00:00:00 UTC in micros

    // cycle 1: source has the first ~third of the feed
    val (wm1, n1) = EtlControl.runIncrementalCycle(spark, control, "events",
      feed("2024-01-10"), "ts", Seq("event_id"), target, t0, "b1")
    val after1 = spark.read.parquet(target)
    assert(n1 > 0 && after1.count() == feed("2024-01-10").count())

    // cycle 2: more data arrived; window starts at wm1 (inclusive)
    val (wm2, n2) = EtlControl.runIncrementalCycle(spark, control, "events",
      feed("2024-01-20"), "ts", Seq("event_id"), target, t0, "b2")
    assert(wm2 > wm1 && n2 > 0)
    val after2 = spark.read.parquet(target)
    assert(after2.count() == feed("2024-01-20").count())
    assert(after2.select("event_id").distinct().count() == after2.count())

    // cycle 3 CRASHES after the target is published, before the
    // watermark commit — the worst ordering
    EtlControl.runIncrementalCycle(spark, control, "events",
      feed("2024-02-01"), "ts", Seq("event_id"), target, t0, "b3",
      failBeforeCommit = true)
    assert(EtlControl.lastWatermarkMicros(spark, control, "events", t0) == wm2,
      "crashed run must not advance the watermark")

    // replay of cycle 3: window re-reads everything since wm2, upsert
    // absorbs the rows the crashed run already published
    val (wm3, _) = EtlControl.runIncrementalCycle(spark, control, "events",
      feed("2024-02-01"), "ts", Seq("event_id"), target, t0, "b3r")
    val after3 = spark.read.parquet(target)
    val full = feed("2024-02-01")
    assert(after3.count() == full.count(), "replay duplicated or lost rows")
    assert(after3.select("event_id").distinct().count() == after3.count())
    assert(after3.except(full).count() == 0 && full.except(after3).count() == 0)
    assert(wm3 > wm2)

    // control log: 3 SUCCESS commits (crashed b3 left no row)
    val log = spark.read.parquet(control)
    assert(log.where(col("status") === "SUCCESS").count() == 3)
    assert(log.where(col("batch_id") === "b3").count() == 0)
  }

  test("run lease: max_active_runs=1 — a live cycle blocks the next schedule; failure frees; stale takeover") {
    val dir = Files.createTempDirectory("etl-lease").toString
    val control = s"$dir/control"
    val target = s"$dir/target"
    val t0 = 1704067200000000L

    // schedule A starts its cycle and is SLOW; schedule B fires while
    // A is mid-cycle — B must be refused without touching control or
    // target, exactly one commit lands for the window
    val aInCycle = new java.util.concurrent.CountDownLatch(1)
    val letAFinish = new java.util.concurrent.CountDownLatch(1)
    val aDone = new java.util.concurrent.FutureTask[Long](() =>
      EtlControl.withRunLease(spark, control, "events", "sched-A",
          ttlMs = 600000L) {
        aInCycle.countDown()
        letAFinish.await()
        EtlControl.runIncrementalCycle(spark, control, "events",
          feed("2024-01-10"), "ts", Seq("event_id"), target, t0, "runA")._2
      })
    new Thread(aDone).start()
    aInCycle.await()
    intercept[EtlControl.LeaseHeldException] {
      EtlControl.withRunLease(spark, control, "events", "sched-B",
          ttlMs = 600000L) {
        fail("B must never enter the cycle while A holds the lease")
      }
    }
    letAFinish.countDown()
    assert(aDone.get() > 0)
    assert(spark.read.parquet(control)
      .where(col("status") === "SUCCESS").count() == 1,
      "exactly one commit for the contended window")
    assert(spark.read.parquet(target).count() == feed("2024-01-10").count())
    // ...and a DIFFERENT source is never blocked by events' lease
    EtlControl.withRunLease(spark, control, "orders", "sched-B",
      ttlMs = 600000L) { () }

    // after A released, the next schedule proceeds normally
    EtlControl.withRunLease(spark, control, "events", "sched-B",
        ttlMs = 600000L) {
      EtlControl.runIncrementalCycle(spark, control, "events",
        feed("2024-01-20"), "ts", Seq("event_id"), target, t0, "runB")
    }
    assert(spark.read.parquet(target).count() == feed("2024-01-20").count())

    // a FAILED cycle releases the slot (only a crash holds it)
    intercept[RuntimeException] {
      EtlControl.withRunLease(spark, control, "events", "sched-C",
        ttlMs = 600000L) { throw new RuntimeException("cycle blew up") }
    }
    EtlControl.withRunLease(spark, control, "events", "sched-C",
      ttlMs = 600000L) { () }

    // CRASHED holder: lease file left behind (no release); a new
    // schedule inside the ttl is refused, past the ttl takes over
    EtlControl.acquireRunLease(spark, control, "events", "crashed",
      ttlMs = 5000L, nowMs = () => 1000L) // never released
    intercept[EtlControl.LeaseHeldException] {
      EtlControl.acquireRunLease(spark, control, "events", "next",
        ttlMs = 5000L, nowMs = () => 5500L) // age 4500 <= ttl
    }
    val takeover = EtlControl.acquireRunLease(spark, control, "events",
      "next", ttlMs = 5000L, nowMs = () => 6001L) // age 5001 > ttl
    takeover.release()

    // DOUBLE-HOLDER window on stale takeover: B observes the stale
    // lease, then A completes a FULL takeover (rename+delete+create of
    // a fresh lease) before B's rename. B's rename then moves A's LIVE
    // lease — the post-rename verification must detect the content
    // mismatch, RESTORE A's lease, and back off with the typed error.
    EtlControl.acquireRunLease(spark, control, "events", "crashed2",
      ttlMs = 5000L, nowMs = () => 1000L) // never released (stale at 7000)
    var rivalRan = false
    EtlControl.staleTakeoverTestHook = () => {
      EtlControl.staleTakeoverTestHook = () => () // run the rival once
      rivalRan = true
      // rival A: its own complete stale takeover (same monitor thread,
      // reentrant) — afterwards a FRESH live lease for holder A sits at p
      EtlControl.acquireRunLease(spark, control, "events", "rival-A",
        ttlMs = 5000L, nowMs = () => 7000L)
    }
    try {
      intercept[EtlControl.LeaseHeldException] {
        EtlControl.acquireRunLease(spark, control, "events", "loser-B",
          ttlMs = 5000L, nowMs = () => 7000L)
      }
    } finally EtlControl.staleTakeoverTestHook = () => ()
    assert(rivalRan)
    // A's fresh lease survived B's aborted takeover: still held for A
    val heldErr = intercept[EtlControl.LeaseHeldException] {
      EtlControl.acquireRunLease(spark, control, "events", "later",
        ttlMs = 5000L, nowMs = () => 8000L) // age 1000 <= ttl → held
    }
    assert(heldErr.getMessage.contains("held"))
    // and no stray tomb files pollute the control dir
    val leaseFiles = new java.io.File(control).listFiles()
      .map(_.getName).filter(_.startsWith("_lease_events"))
    assert(leaseFiles.toSeq == Seq("_lease_events"), leaseFiles.mkString(","))
    new java.io.File(control, "_lease_events").delete() // free A's slot

    // the lease marker never corrupts the control log read path
    assert(EtlControl.lastWatermarkMicros(spark, control, "events", t0) > t0)
  }

  test("failed cycle leaves a FAILURE record with stage + error class and no watermark advance") {
    val dir = Files.createTempDirectory("etl-faillog").toString
    val control = s"$dir/control"
    val failures = s"$dir/failures"
    val target = s"$dir/target"
    val t0 = 1704067200000000L

    EtlControl.loggedRun(spark, failures, "events", "b1", "load") {
      EtlControl.runIncrementalCycle(spark, control, "events",
        feed("2024-01-10"), "ts", Seq("event_id"), target, t0, "b1")
    }
    val wm1 = EtlControl.lastWatermarkMicros(spark, control, "events", t0)

    // the load stage of batch b2 blows up mid-cycle
    val boom = intercept[IllegalStateException] {
      EtlControl.loggedRun(spark, failures, "events", "b2", "load") {
        EtlControl.runIncrementalCycle(spark, control, "events",
          feed("2024-01-20"), "ts", Seq("event_id"), target, t0, "b2",
          failBeforeCommit = true)
        throw new IllegalStateException("executor lost during merge")
      }
    }
    assert(boom.getMessage.contains("executor lost"))

    // exactly one failure record, carrying stage + error class
    val f = spark.read.parquet(failures).collect()
    assert(f.length == 1)
    val r = f.head
    assert(r.getAs[String]("source_id") == "events" &&
      r.getAs[String]("batch_id") == "b2" &&
      r.getAs[String]("stage") == "load" &&
      r.getAs[String]("error_class") == "java.lang.IllegalStateException" &&
      r.getAs[String]("error_message").contains("executor lost"))
    // the commit log never saw b2: watermark stays at b1's
    assert(EtlControl.lastWatermarkMicros(spark, control, "events", t0) == wm1)
    assert(spark.read.parquet(control)
      .where(col("batch_id") === "b2").count() == 0)

    // a successful run writes nothing to the failure log
    EtlControl.loggedRun(spark, failures, "events", "b2r", "load") {
      EtlControl.runIncrementalCycle(spark, control, "events",
        feed("2024-01-20"), "ts", Seq("event_id"), target, t0, "b2r")
    }
    assert(spark.read.parquet(failures).count() == 1)
    assert(EtlControl.lastWatermarkMicros(spark, control, "events", t0) > wm1)
  }

  test("snapshot cycle: idle runs never touch the target; churn is the audit record") {
    import spark.implicits._
    val base = Files.createTempDirectory("graft-snapcycle").toFile.getAbsolutePath
    val (ctl, tgt) = (s"$base/control", s"$base/target")
    def snap(rows: (Long, String)*) = rows.toDF("k", "v")
    val fs = new org.apache.hadoop.fs.Path(tgt)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    def stamps = fs.listStatus(new org.apache.hadoop.fs.Path(tgt)).toSeq
      .filter(_.getPath.getName.startsWith("part-"))
      .map(s => (s.getPath.getName, s.getModificationTime, s.getLen)).sorted

    // 1: bootstrap
    assert(EtlControl.runSnapshotCycle(spark, ctl, "dim", snap(1L -> "a", 2L -> "b"),
      Seq("k"), tgt, "b1") === ((2L, 0L, 0L)))
    val s1 = stamps
    // 2: identical snapshot → IDLE, files byte-identical (not rewritten)
    assert(EtlControl.runSnapshotCycle(spark, ctl, "dim", snap(1L -> "a", 2L -> "b"),
      Seq("k"), tgt, "b2") === ((0L, 0L, 0L)))
    assert(stamps === s1, "idle cycle must not rewrite the target")
    // 3: changed snapshot → exactly classified churn, target replaced
    assert(EtlControl.runSnapshotCycle(spark, ctl, "dim",
      snap(1L -> "a2", 3L -> "c"), Seq("k"), tgt, "b3") === ((1L, 1L, 1L)))
    assert(spark.read.parquet(tgt).as[(Long, String)].collect().sorted.toSeq
      === Seq(1L -> "a2", 3L -> "c"))
    // control log: bootstrap 2, idle 0, churn 3 — bounds gate on churn
    val log = spark.read.parquet(ctl).orderBy("batch_id")
      .select("batch_id", "records_loaded", "status")
      .as[(String, Long, String)].collect().toSeq
    assert(log === Seq(("b1", 2L, "SUCCESS"), ("b2", 0L, "IDLE"),
      ("b3", 3L, "SUCCESS")))
  }

  test("snapshot cycle: an empty pre-made target dir takes the bootstrap commit") {
    import spark.implicits._
    val base = Files.createTempDirectory("graft-snapempty").toFile.getAbsolutePath
    val (ctl, tgt) = (s"$base/control", s"$base/target")
    new java.io.File(tgt).mkdirs()
    val snap = Seq(1L -> "a", 2L -> "b", 3L -> "c").toDF("k", "v")
    assert(EtlControl.runSnapshotCycle(spark, ctl, "dim", snap, Seq("k"), tgt,
      "b1") === ((3L, 0L, 0L)))
    assert(spark.read.parquet(tgt).as[(Long, String)].collect().sorted.toSeq
      === Seq(1L -> "a", 2L -> "b", 3L -> "c"))
    assert(spark.read.parquet(ctl).select("batch_id", "records_loaded", "status")
      .as[(String, Long, String)].collect().toSeq === Seq(("b1", 3L, "SUCCESS")))
  }

  test("retention drop removes expired partitions without touching survivors") {
    import graft.sources.ParquetSink
    val dir = Files.createTempDirectory("retention").toString + "/events"
    val ev = Tables.loadEvents(spark, sf0001)
      .select("event_id", "ts", "user_id", "event_type", "value")
    ParquetSink.writeDatePartitioned(ev, dir)
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    def partDirs = fs.listStatus(new org.apache.hadoop.fs.Path(dir)).toSeq
      .filter(_.getPath.getName.startsWith("event_date="))
    val before = partDirs.map(_.getPath.getName).sorted
    // fingerprint survivors' data files BEFORE the drop
    def fileStamps(day: String) = fs
      .listStatus(new org.apache.hadoop.fs.Path(s"$dir/event_date=$day"))
      .map(s => (s.getPath.getName, s.getLen, s.getModificationTime)).toSeq.sorted
    val survivorStamps = fileStamps("2024-01-20")
    val dropped = ParquetSink.dropExpiredPartitions(spark, dir,
      "event_date", keepFrom = "2024-01-15")
    assert(dropped.nonEmpty && dropped.forall(_ < "2024-01-15"))
    val after = partDirs.map(_.getPath.getName).sorted
    assert(after == before.filter(_.stripPrefix("event_date=") >= "2024-01-15"))
    // survivors untouched byte-for-byte (same files, sizes, mtimes —
    // nothing scanned or rewritten them)
    assert(fileStamps("2024-01-20") == survivorStamps)
    // and the table still reads cleanly with only surviving dates
    val remaining = spark.read.parquet(dir)
    assert(remaining.agg(min("event_date")).head().getDate(0).toString >= "2024-01-15")
  }

  test("expectedRowBounds derives the delta gate from the prior batch") {
    import graft.operators.Validate
    val dir = Files.createTempDirectory("etlctl3").toString
    val control = s"$dir/control"
    val target = s"$dir/target"
    val t0 = 1704067200000000L
    assert(EtlControl.expectedRowBounds(spark, control, "events").isEmpty,
      "no history -> no bounds")
    val (_, n1) = EtlControl.runIncrementalCycle(spark, control, "events",
      feed("2024-01-10"), "ts", Seq("event_id"), target, t0, "b1")
    val Some((lo, hi)) = EtlControl.expectedRowBounds(spark, control, "events")
    assert(lo == math.floor(n1 * 0.5).toLong && hi == math.ceil(n1 * 1.5).toLong)
    // a comparable next batch passes the derived gate; a collapsed one fails
    val nextBatch = feed("2024-01-20").where(col("ts") >= lit("2024-01-10").cast("timestamp"))
    val gate = Validate.check(nextBatch, Seq(Validate.RowCountBetween(lo, hi)))
    assert(Validate.passed(gate), s"normal delta batch should pass [$lo,$hi]")
    val collapsed = nextBatch.limit((lo / 2).toInt)
    assert(!Validate.passed(
      Validate.check(collapsed, Seq(Validate.RowCountBetween(lo, hi)))))
    // an idle cycle (boundary replay only) commits as IDLE and must
    // NOT poison the bounds for the next real batch
    EtlControl.runIncrementalCycle(spark, control, "events",
      feed("2024-01-10"), "ts", Seq("event_id"), target, t0, "b-idle")
    val log = spark.read.parquet(control)
    assert(log.where(col("batch_id") === "b-idle" &&
      col("status") === "IDLE").count() == 1)
    assert(EtlControl.expectedRowBounds(spark, control, "events")
      .contains((lo, hi)), "idle cycle changed the row bounds")
  }

  test("atomicReplace handles trailing slashes and preserves the old copy on failure") {
    import graft.sources.ParquetSink
    val base = Files.createTempDirectory("swap").toString
    val target = s"$base/t/" // trailing slash: staging must be a SIBLING
    spark.range(5).write.parquet(target)
    ParquetSink.atomicReplace(spark, target)(
      staging => spark.range(9).write.parquet(staging))
    assert(spark.read.parquet(target).count() == 9)
    // no stray __staged/__old dirs inside or next to the target
    val fs = new org.apache.hadoop.fs.Path(base)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val names = fs.listStatus(new org.apache.hadoop.fs.Path(base))
      .map(_.getPath.getName).toSeq
    assert(names == Seq("t"), s"leftover dirs: $names")
    // a failing write leaves the live copy untouched
    intercept[RuntimeException] {
      ParquetSink.atomicReplace(spark, target)(_ => throw new RuntimeException("boom"))
    }
    assert(spark.read.parquet(target).count() == 9)
  }

  test("historical backfill through the same incremental cycle converges") {
    // The reference replays day-windows through its incremental path
    // (scripts/ backfill). Same composition here: backfillWindows
    // plans the windows, each one runs the watermark cycle against a
    // source clipped to that window's end — the final target equals a
    // single full load, and the watermark lands at the feed's max ts.
    import graft.operators.Incremental
    val dir = Files.createTempDirectory("backfill").toString
    val control = s"$dir/control"
    val target = s"$dir/target"
    val t0 = 1704067200000000L
    val windows = Incremental.backfillWindows(
      java.time.Instant.parse("2024-01-01T00:00:00Z"),
      java.time.Instant.parse("2024-02-01T00:00:00Z"),
      java.time.Duration.ofDays(10))
    assert(windows.size == 4 && windows.last._2.toString.startsWith("2024-02-01"))
    windows.zipWithIndex.foreach { case ((_, end), i) =>
      EtlControl.runIncrementalCycle(spark, control, "events",
        feed(end.toString.replace("T", " ").replace("Z", "")),
        "ts", Seq("event_id"), target, t0, s"bf$i")
    }
    val full = feed("2024-02-01")
    val got = spark.read.parquet(target)
    assert(got.count() == full.count())
    assert(got.except(full).count() == 0 && full.except(got).count() == 0)
    val wm = EtlControl.lastWatermarkMicros(spark, control, "events", t0)
    val expectWm = full.agg(max(unix_micros(col("ts")))).head().getLong(0)
    assert(wm == expectWm, "watermark must land at the feed's max ts")
  }

  test("the quality gate inside the incremental cycle: a failure stages nothing, a pass changes nothing") {
    import graft.operators.Validate
    val t0 = 1704067200000000L
    val passing = Seq(Validate.NotNull("event_id"), Validate.Unique("event_id"),
      Validate.NotNull("ts"), Validate.RowCountBetween(1, Long.MaxValue))
    val gated = Files.createTempDirectory("etlgate").toString
    val plain = Files.createTempDirectory("etlgate-plain").toString
    def cycle(dir: String, batch: String, upTo: String,
        exps: Seq[Validate.Expectation]) =
      EtlControl.runIncrementalCycle(spark, s"$dir/control", "events",
        feed(upTo), "ts", Seq("event_id"), s"$dir/target", t0, batch,
        expectations = exps)
    // passing expectations: the same (watermark, rows) and target rows
    // as the ungated cycle
    for ((batch, upTo) <- Seq("b1" -> "2024-01-10", "b2" -> "2024-01-20")) {
      assert(cycle(gated, batch, upTo, passing) == cycle(plain, batch, upTo, Nil))
      val (g, p) = (spark.read.parquet(s"$gated/target"),
        spark.read.parquet(s"$plain/target"))
      assert(g.count() == p.count() && g.except(p).isEmpty && p.except(g).isEmpty)
    }
    // a failing gate throws before the target is published: the
    // target's files are byte-identical and no commit row is written
    val (target, control) = (files(s"$gated/target"), files(s"$gated/control"))
    val wm = EtlControl.lastWatermarkMicros(spark, s"$gated/control", "events", t0)
    val e = intercept[Validate.ValidationException] {
      cycle(gated, "b3", "2024-02-01", passing ++ Seq(
        Validate.RowCountBetween(0, 10), Validate.InSet("event_type", Seq("nope"))))
    }
    assert(e.getMessage ==
      "events/b3: 2 expectation(s) failed: in_set(event_type), row_count()")
    assert(files(s"$gated/target") == target && files(s"$gated/control") == control)
    assert(EtlControl.lastWatermarkMicros(spark, s"$gated/control", "events", t0) == wm)
  }

  test("empty window advances nothing and commits the same watermark") {
    val dir = Files.createTempDirectory("etlctl2").toString
    val control = s"$dir/control"
    val target = s"$dir/target"
    val t0 = 1704067200000000L
    val (wm1, _) = EtlControl.runIncrementalCycle(spark, control, "events",
      feed("2024-01-10"), "ts", Seq("event_id"), target, t0, "b1")
    val before = spark.read.parquet(target).count()
    // same source again: only the boundary row is in the window; the
    // upsert must keep the target identical
    val (wm2, n2) = EtlControl.runIncrementalCycle(spark, control, "events",
      feed("2024-01-10"), "ts", Seq("event_id"), target, t0, "b2")
    assert(wm2 == wm1 && n2 == 1) // the inclusive boundary row replays
    assert(spark.read.parquet(target).count() == before)
  }

  test("records_loaded counts only rows above the prior watermark") {
    import spark.implicits._
    val dir = Files.createTempDirectory("etlctl3").toString
    val control = s"$dir/control"
    val target = s"$dir/target"
    def src(upToK: Int) = (1 to upToK)
      .map(k => (k.toLong, s"2024-01-01 00:00:0$k"))
      .toDF("k", "ts0")
      .select(col("k"), col("ts0").cast("timestamp").as("ts"))
    EtlControl.runIncrementalCycle(spark, control, "s", src(3), "ts",
      Seq("k"), target, 0L, "b1")
    // window 2 re-reads boundary row k=3 (inclusive) plus 2 new rows —
    // the commit must record 2, not 3 (expectedRowBounds feeds on it)
    EtlControl.runIncrementalCycle(spark, control, "s", src(5), "ts",
      Seq("k"), target, 0L, "b2")
    val loaded = spark.read.parquet(control).orderBy("batch_id")
      .select("records_loaded").as[Long].collect().toSeq
    assert(loaded == Seq(3L, 2L), s"records_loaded = $loaded")
  }

  test("atomicReplace sweeps stale siblings and restores a mid-swap crash") {
    import graft.sources.ParquetSink
    val base = Files.createTempDirectory("swap2").toString
    val target = s"$base/t"
    val fs = new org.apache.hadoop.fs.Path(base)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    def names = fs.listStatus(new org.apache.hadoop.fs.Path(base))
      .map(_.getPath.getName).toSeq.sorted
    spark.range(5).write.parquet(target)
    // a failing write must not leave its partial __staged_ dir behind
    intercept[RuntimeException] {
      ParquetSink.atomicReplace(spark, target) { staging =>
        spark.range(1).write.parquet(staging); throw new RuntimeException("boom")
      }
    }
    assert(names == Seq("t"), s"staging leaked: $names")
    // a crash AFTER publish can orphan an __old_ copy: swept on retry
    spark.range(7).write.parquet(s"${target}__old_dead")
    ParquetSink.atomicReplace(spark, target)(
      staging => spark.range(9).write.parquet(staging))
    assert(names == Seq("t") && spark.read.parquet(target).count() == 9)
    // a crash BETWEEN aside and publish leaves ONLY __old_: the next
    // replace restores it first, so a write that reads the live target
    // (as the incremental MERGE does) still sees the data
    fs.rename(new org.apache.hadoop.fs.Path(target),
      new org.apache.hadoop.fs.Path(s"${target}__old_crash"))
    ParquetSink.atomicReplace(spark, target) { staging =>
      spark.read.parquet(target).limit(4).write.parquet(staging)
    }
    assert(names == Seq("t") && spark.read.parquet(target).count() == 4)
  }

  test("runHistory + successRate summarize the three logs across a multi-run replay") {
    val dir = Files.createTempDirectory("etl-hist").toString
    val (control, durations, failures) =
      (s"$dir/control", s"$dir/durations", s"$dir/failures")

    // before any log exists both views answer (empty), never throw
    assert(EtlControl.runHistory(spark, control, durations, failures)
      .collect().isEmpty)
    assert(EtlControl.successRate(spark, control, durations, failures)
      .collect().isEmpty)

    // events/b1: clean SUCCESS with a duration row
    EtlControl.commitRun(spark, control, "events", "b1",
      watermarkUs = 1000L, recordsLoaded = 100L)
    EtlControl.logRunDuration(spark, durations, "events", "b1", 1.25)
    // events/b2: IDLE cycle (ran to completion, saw nothing)
    EtlControl.commitRun(spark, control, "events", "b2",
      watermarkUs = 1000L, recordsLoaded = 0L, status = "IDLE")
    EtlControl.logRunDuration(spark, durations, "events", "b2", 0.5)
    // events/b3: fails through retryingRun (2 attempts → 2 failure
    // rows) inside timedRun (FAILURE duration row), never commits
    intercept[IllegalStateException] {
      EtlControl.timedRun(spark, durations, "events", "b3") {
        EtlControl.retryingRun(spark, failures, "events", "b3",
          "load", retries = 1) {
          throw new IllegalStateException("api 500")
        }
      }
    }
    // orders/b1: a second source, one SUCCESS (no duration log row)
    EtlControl.commitRun(spark, control, "orders", "b1",
      watermarkUs = 2000L, recordsLoaded = 7L)

    val hist = EtlControl.runHistory(spark, control, durations, failures)
      .collect().map(r => (r.getAs[String]("source_id"),
        r.getAs[String]("batch_id")) -> r).toMap
    assert(hist.size == 4, s"expected 4 runs, got ${hist.keySet}")
    val b1 = hist(("events", "b1"))
    assert(b1.getAs[String]("status") == "SUCCESS" &&
      b1.getAs[Long]("records_loaded") == 100L &&
      b1.getAs[Double]("duration_sec") == 1.25 &&
      b1.getAs[Long]("n_failures") == 0L)
    assert(hist(("events", "b2")).getAs[String]("status") == "IDLE")
    val b3 = hist(("events", "b3"))
    assert(b3.getAs[String]("status") == "FAILURE", "no commit row → FAILURE")
    assert(b3.getAs[Long]("n_failures") == 2L, "one row per retry attempt")
    assert(b3.getAs[String]("last_error_class")
      .contains("IllegalStateException"))
    assert(!b3.isNullAt(b3.fieldIndex("duration_sec")),
      "timedRun stamped the failed run's wall time")
    val ob1 = hist(("orders", "b1"))
    assert(ob1.getAs[String]("status") == "SUCCESS" &&
      ob1.isNullAt(ob1.fieldIndex("duration_sec")))

    val rates = EtlControl.successRate(spark, control, durations, failures)
      .collect().map(r => r.getAs[String]("source_id") -> r).toMap
    val ev = rates("events")
    assert(ev.getAs[Long]("n_runs") == 3L && ev.getAs[Long]("n_success") == 1L &&
      ev.getAs[Long]("n_idle") == 1L && ev.getAs[Long]("n_failed") == 1L)
    assert(math.abs(ev.getAs[Double]("success_rate") - 2.0 / 3.0) < 1e-9)
    val or = rates("orders")
    assert(or.getAs[Long]("n_runs") == 1L &&
      or.getAs[Double]("success_rate") == 1.0)
  }

  test("concurrent appends to one control dir land every row and leave no _temporary") {
    val control = Files.createTempDirectory("concurrent-control").toString
    val n = 4
    val rounds = 3
    for (round <- 0 until rounds) {
      val start = new java.util.concurrent.CyclicBarrier(n)
      val errors = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]
      val threads = (0 until n).map { i =>
        new Thread(() =>
          try {
            start.await()
            EtlControl.commitRun(spark, control, s"src$i", s"b$round",
              watermarkUs = round, recordsLoaded = i)
          } catch { case t: Throwable => errors.add(t); () })
      }
      threads.foreach(_.start())
      threads.foreach(_.join())
      assert(errors.isEmpty, s"round $round: ${errors.toArray.mkString("; ")}")
    }
    val log = spark.read.parquet(control)
    assert(log.count() == n * rounds)
    assert(log.select("source_id", "batch_id").distinct().count() == n * rounds)
    assert(!new java.io.File(control, "_temporary").exists())
  }

  test("a duplicate key in the window fails Unique inside the MERGE pass; nothing is published") {
    import graft.operators.Validate
    val dir = Files.createTempDirectory("etlgate-dup").toString
    val (control, target) = (s"$dir/control", s"$dir/target")
    val t0 = 1704067200000000L
    EtlControl.runIncrementalCycle(spark, control, "events", feed("2024-01-10"),
      "ts", Seq("event_id"), target, t0, "b1")
    val next = feed("2024-01-20")
    val dup = next.orderBy(col("ts").desc, col("event_id")).limit(1)
    val (before, log) = (files(target), files(control))
    val exps = Seq(Validate.NotNull("event_id"), Validate.Unique("event_id"))
    var e: Validate.ValidationException = null
    // the gate rides in the MERGE write: its map stage and its write
    // are the cycle's only jobs
    assert(jobsOf {
      e = intercept[Validate.ValidationException] {
        EtlControl.runIncrementalCycle(spark, control, "events",
          next.unionByName(dup), "ts", Seq("event_id"), target, t0, "b2",
          expectations = exps)
      }
    } == 2)
    assert(e.getMessage == "events/b2: 1 expectation(s) failed: unique(event_id)")
    assert(files(target) == before && files(control) == log)
    assert(new java.io.File(dir).list().toSeq.sorted == Seq("control", "target"))
    // the same window without the duplicate passes and publishes
    val (_, n) = EtlControl.runIncrementalCycle(spark, control, "events", next,
      "ts", Seq("event_id"), target, t0, "b2", expectations = exps)
    assert(n > 0 && spark.read.parquet(target).count() == next.count())
  }

  test("out-of-window source rows count in the gate and never reach the target") {
    import spark.implicits._
    import graft.operators.Validate
    val dir = Files.createTempDirectory("etlgate-window").toString
    val (control, target) = (s"$dir/control", s"$dir/target")
    def src(rows: (Long, Int, Double)*) = rows.toDF("k", "sec", "amount")
      .select(col("k"), timestamp_seconds(col("sec")).as("ts"), col("amount"))
    def cycle(batch: String, rows: Seq[(Long, Int, Double)],
        exps: Seq[Validate.Expectation]) =
      EtlControl.runIncrementalCycle(spark, control, "s", src(rows: _*), "ts",
        Seq("k"), target, 0L, batch, expectations = exps)
    def rows = spark.read.parquet(target).orderBy("k")
      .as[(Long, java.sql.Timestamp, Double)].collect().toSeq
        .map { case (k, ts, a) => (k, ts.getTime / 1000, a) }
    assert(cycle("b1", Seq((1L, 10, 1.0), (2L, 20, 2.0)), Nil) == (20000000L, 2L))
    // watermark 20 s: (1, 5 s), (2, 19 s) and (5, 6 s) are out of the
    // window. The gate counts them (5 source rows, one negative amount,
    // one repeat of key 2), but they must neither overwrite keys 1 and 2
    // nor add key 5
    val late = Seq((1L, 5, -1.0), (2L, 19, 9.0), (2L, 20, 2.0), (3L, 30, 3.0),
      (5L, 6, 5.0))
    val e = intercept[Validate.ValidationException](cycle("b2", late,
      Seq(Validate.InRange("amount", Some(0.0), None, maxBadRate = 0.19))))
    assert(e.getMessage == "s/b2: 1 expectation(s) failed: in_range(amount)")
    val dupe = intercept[Validate.ValidationException](cycle("b2", late,
      Seq(Validate.InRange("amount", Some(0.0), None, maxBadRate = 0.2),
        Validate.RowCountBetween(5, 5), Validate.Unique("k"))))
    assert(dupe.getMessage == "s/b2: 1 expectation(s) failed: unique(k)")
    assert(rows == Seq((1L, 10L, 1.0), (2L, 20L, 2.0)))
    assert(cycle("b2", late, Seq(
      Validate.InRange("amount", Some(0.0), None, maxBadRate = 0.2),
      Validate.RowCountBetween(5, 5), Validate.Unique("k", 0.2))) == (30000000L, 2L))
    assert(rows == Seq((1L, 10L, 1.0), (2L, 20L, 2.0), (3L, 30L, 3.0)))
  }

  test("an empty source publishes nothing: the target files stay untouched") {
    import graft.operators.Validate
    val dir = Files.createTempDirectory("etl-empty").toString
    val (control, target) = (s"$dir/control", s"$dir/target")
    val t0 = 1704067200000000L
    val (wm, _) = EtlControl.runIncrementalCycle(spark, control, "events",
      feed("2024-01-10"), "ts", Seq("event_id"), target, t0, "b1")
    val before = files(target)
    val empty = feed("2024-01-10").limit(0)
    val exps = Seq(Validate.NotNull("event_id"), Validate.Unique("event_id"))
    // a source the caller knows is empty runs no Spark job at all
    assert(jobsOf {
      assert(EtlControl.runIncrementalCycle(spark, control, "events", empty,
        "ts", Seq("event_id"), target, t0, "b2", expectations = exps,
        knownEmpty = true) == (wm, 0L))
    } == 0)
    // one found empty by the MERGE pass stages its copy and drops it
    assert(EtlControl.runIncrementalCycle(spark, control, "events", empty,
      "ts", Seq("event_id"), target, t0, "b3", expectations = exps) == (wm, 0L))
    assert(files(target) == before)
    assert(new java.io.File(dir).list().toSeq.sorted == Seq("control", "target"))
    val status = spark.read.parquet(control).where(col("batch_id") =!= "b1")
      .select("status", "watermark_us").collect().map(r => (r.getString(0), r.getLong(1)))
    assert(status.toSeq == Seq(("IDLE", wm), ("IDLE", wm)))
    // an empty source still fails a gate that wants rows, without a job
    val e = intercept[Validate.ValidationException](
      EtlControl.runIncrementalCycle(spark, control, "events", empty, "ts",
        Seq("event_id"), target, t0, "b4",
        expectations = Seq(Validate.RowCountBetween(1, 10)), knownEmpty = true))
    assert(e.getMessage == "events/b4: 1 expectation(s) failed: row_count()")
  }

  test("a Unique on a non-key column is still exact") {
    import spark.implicits._
    import graft.operators.Validate
    val dir = Files.createTempDirectory("etlgate-nonkey").toString
    val (control, target) = (s"$dir/control", s"$dir/target")
    def src(rows: (Long, Int, String)*) = rows.toDF("k", "sec", "sku")
      .select(col("k"), timestamp_seconds(col("sec")).as("ts"), col("sku"))
    def cycle(batch: String, rows: Seq[(Long, Int, String)], maxDupRate: Double) =
      EtlControl.runIncrementalCycle(spark, control, "s", src(rows: _*), "ts",
        Seq("k"), target, 0L, batch,
        expectations = Seq(Validate.Unique("sku", maxDupRate)))
    // distinct keys, 2 repeated skus in 5 rows (one null sku): rate 0.4.
    // Each repeat sits under another key, so no key-partitioned count
    // can see it
    val rows = Seq((1L, 1, "a"), (2L, 2, "a"), (3L, 3, "b"), (4L, 4, "b"),
      (5L, 5, null))
    val e = intercept[Validate.ValidationException](cycle("b1", rows, 0.39))
    assert(e.getMessage == "s/b1: 1 expectation(s) failed: unique(sku)")
    assert(!new java.io.File(target).exists())
    assert(cycle("b1", rows, 0.4) == (5000000L, 5L))
    assert(spark.read.parquet(target).count() == 5)
  }

  test("the counters observed in the MERGE write equal Validate.check's report") {
    import spark.implicits._
    import graft.operators.{Incremental, Validate}
    import Validate._
    val base = Files.createTempDirectory("etlgate-grid").toString
    var dirs = 0
    for (n <- Seq(0, 1, 7, 40); nulls <- Seq(0, 3); targetRows <- Seq(0, 5)) {
      // keys repeat every 5th row, so Unique on the key has repeats; the
      // `grp` column repeats under distinct keys
      val src = (0 until n).map(i => (if (i % 5 == 4) (i - 1).toLong else i.toLong,
          i, if (i < nulls) None else Some(i % 3), if (i % 2 == 0) "a" else "z"))
        .toDF("k", "sec", "grp", "cat")
        .select(col("k"), timestamp_seconds(col("sec")).as("ts"), col("grp"), col("cat"))
      dirs += 1
      val target = s"$base/t$dirs"
      if (targetRows > 0)
        (0 until targetRows).map(i => (i.toLong, 100 + i, Option(i), "q"))
          .toDF("k", "sec", "grp", "cat")
          .select(col("k"), timestamp_seconds(col("sec")).as("ts"), col("grp"), col("cat"))
          .write.parquet(target)
      val exps = Seq(NotNull("grp"), NotNull("grp", 0.5), Unique("k"),
        Unique("k", 0.1), Unique("grp"), InSet("cat", Seq("a")),
        InRange("grp", Some(0.0), Some(1.0)), TypeConforms("cat", "int"),
        RowCountBetween(1, 10), RowCountBetween(0, 100))
      val (counters, verdictsOf) = Validate.inMerge(src, Seq("k"), exps)
      // half the source is out of the window: the gate still counts it
      val stats = Incremental.mergeInto(spark, target, src, Seq("k"),
        Seq(col("ts")), Some(Incremental.Gate(
          col("ts") >= timestamp_seconds(lit(n / 2)), counters,
          publish = _ => false))).get
      val observed = verdictsOf(stats, 0).map(v => (v.expectation.label,
        v.expectation.column, v.expectation.threshold, v.nRows, v.nBad,
        v.badRate, v.passed)).sorted
      val report = Validate.check(src, exps).collect().toSeq.map(r =>
        (r.getString(0), r.getString(1), r.getDouble(5), r.getLong(2),
          r.getLong(3), r.getDouble(4), r.getBoolean(6))).sorted
      assert(observed == report, s"n=$n nulls=$nulls target=$targetRows")
    }
  }

  test("a gate's counters are observed above the keep-last exchange, in the write's result stage") {
    import org.apache.spark.sql.execution.CollectMetricsExec
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.execution.exchange.Exchange
    import graft.operators.{Incremental, Validate}
    val target = feed("2024-01-10")
    val src = feed("2024-01-20")
    val (counters, _) = Validate.inMerge(src, Seq("event_id"),
      Seq(Validate.NotNull("ts"), Validate.Unique("event_id")))
    val merged = Incremental.mergeRows(Some(target), src, Seq("event_id"),
      Seq(col("ts")), Some(Incremental.Gate(lit(true), counters, _ => true) ->
        org.apache.spark.sql.Observation()))
    val plan = merged.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }
    val observe = plan.collect { case c: CollectMetricsExec => c }
    assert(observe.length == 1, plan)
    def exchanges(p: org.apache.spark.sql.execution.SparkPlan) =
      p.collect { case e: Exchange => e }.length
    // every exchange sits below the observation: nothing re-partitions
    // its output, so it runs in the stage that writes
    assert(exchanges(observe.head) >= 1 && exchanges(plan) == exchanges(observe.head), plan)
  }

  test("dedup cycle: a replay after a crash between move-aside and publish keeps the prior assignment") {
    import spark.implicits._
    import graft.operators.DupGroups
    val control = Files.createTempDirectory("dedup-crash-control").toString
    val base = Files.createTempDirectory("dedup-crash").toString
    val assign = s"$base/cc"
    val p1 = Seq((1L, 2L), (10L, 11L))
    val p2 = Seq((2L, 3L), (40L, 41L))
    EtlControl.runDedupCycle(spark, control, "pairs", p1.toDF("a", "b"),
      "a", "b", assign, batchId = "d1")
    // batch d2 crashed after moving the assignment aside, before its
    // publish: only `<assign>__old_<tag>` is left
    assert(new java.io.File(assign).renameTo(new java.io.File(s"$base/cc__old_x")))
    EtlControl.runDedupCycle(spark, control, "pairs", p2.toDF("a", "b"),
      "a", "b", assign, batchId = "d2")
    val got = spark.read.parquet(assign).as[(Long, Long)].collect().toMap
    val want = DupGroups.connectedComponents((p1 ++ p2).toDF("a", "b"), "a", "b")
      .as[(Long, Long)].collect().toMap
    assert(got == want)
    assert(new java.io.File(base).list().toSeq == Seq("cc"))
  }

  test("a guarded append after a crashed one lands no committed task file twice") {
    import spark.implicits._
    import graft.operators.Incremental
    val base = Files.createTempDirectory("append-crash").toString
    val store = s"$base/store"
    def append(ids: Seq[Long]): Unit =
      Incremental.newRows(spark, store, ids.toDF("id"), Seq("id"))
        .write.mode("append").parquet(store)
    // a crash after a task commit and before the job commit leaves that
    // task's rows under _temporary/0/task_*, where readers skip them
    def plantStale(ids: Seq[Long]): Unit = {
      val written = s"$base/written-${ids.mkString("-")}"
      ids.toDF("id").coalesce(1).write.parquet(written)
      val part = new java.io.File(written).listFiles()
        .find(_.getName.endsWith(".parquet")).get
      val task = new java.io.File(s"$store/_temporary/0/task_202601010000_0000_m_000000")
      assert(task.mkdirs())
      assert(part.renameTo(new java.io.File(task, part.getName)))
    }
    // a first append that crashed leaves only _temporary/
    plantStale(Seq(1L, 2L))
    append(Seq(1L, 2L))
    plantStale(Seq(3L))
    append(Seq(3L, 4L))
    val ids = spark.read.parquet(store).as[Long].collect().toSeq.sorted
    assert(ids == Seq(1L, 2L, 3L, 4L))
  }

  test("a gated cycle with a new watermark compiles no new class") {
    import spark.implicits._
    import graft.operators.Validate
    val dir = Files.createTempDirectory("etl-codegen").toString
    val (control, target) = (s"$dir/control", s"$dir/target")
    def cycle(batch: String, secs: Seq[Int]) =
      EtlControl.runIncrementalCycle(spark, control, "s",
        secs.map(s => (s.toLong, s, s.toDouble)).toDF("k", "sec", "amount")
          .select(col("k"), timestamp_seconds(col("sec")).as("ts"), col("amount")),
        "ts", Seq("k"), target, 0L, batch,
        expectations = Seq(Validate.NotNull("k"), Validate.InRange("amount", Some(0.0), None)))
    cycle("b1", Seq(1, 2))
    assert(cycle("b2", Seq(2, 3, 4)) == (4000000L, 3L))
    def compiles = org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    val before = compiles
    assert(cycle("b3", Seq(4, 5, 6, 7)) == (7000000L, 4L))
    assert(compiles == before)
    assert(spark.read.parquet(target).count() == 7L)
  }
}
