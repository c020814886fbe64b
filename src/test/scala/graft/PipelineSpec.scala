package graft

import java.nio.file.Files
import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.{EtlControl, Pipeline, Validate}
import graft.sources.{PagedRestSource, PipelineConfig, TokenAuth}

/** The composed DAG drivers ([[Pipeline.runIncremental]] /
  * [[Pipeline.runFullLoad]]): one config object drives the reference's
  * full three-source cycle — lease → authed paged extract → normalize
  * → validate → MERGE/replace load → watermark commit — end to end,
  * twice, with a worst-ordered crash replay in between, plus the
  * full-load DAG's cross-source stage ordering and the
  * validate-aborts-before-load contract. */
class PipelineSpec extends SparkTestBase {

  private def env(controlDir: String, retries: String = "2") = Map(
    "ENVIRONMENT" -> "staging",
    "GRAFT_CONTROL_DIR" -> controlDir,
    "SHOP_APP_KEY" -> "k-shop", "SHOP_APP_SECRET" -> "s-shop",
    "CRM_CLIENT_ID" -> "k-crm", "CRM_CLIENT_SECRET" -> "s-crm",
    "MARKETPLACE_PARTNER_ID" -> "k-mkt",
    "MARKETPLACE_PARTNER_KEY" -> "s-mkt",
    "GRAFT_JDBC_URL" -> "jdbc:derby:memory:pipe;create=true",
    "ETL_PAGE_SIZE" -> "5",
    "CRM_PAGE_SIZE" -> "5",
    // crm's production default caps the cycle at 2 pages; the feeds
    // here serve 3-page chains
    "CRM_MAX_PAGES_PER_CYCLE" -> "10",
    "ETL_TASK_RETRIES" -> retries)

  /** Mutable per-source feed: rows are (id, tsUs, amount) triples the
    * transport serialises as JSON pages; tests push new windows
    * between cycles the way a live API grows. */
  private final class Feed {
    var rows: Vector[(Long, Long, Double)] = Vector.empty
  }

  private def runner(src: PipelineConfig.SourceConfig, feed: Feed,
      e: Map[String, String],
      expectations: Seq[Validate.Expectation] = Nil,
      fetchLog: scala.collection.mutable.ArrayBuffer[String] =
        scala.collection.mutable.ArrayBuffer.empty): Pipeline.SourceRunner = {
    val clock = new AtomicLong(1000L)
    val provider = src.credentialProvider(
      _ => TokenAuth.Token(s"${src.id}-at", "r", clock.get() + 3600),
      () => clock.get())
    val fetch = (cursor: Option[String], tok: TokenAuth.Token) => {
      assert(tok.accessToken.startsWith(src.id), "wrong source's token")
      fetchLog.synchronized { fetchLog += src.id }
      val pageIdx = cursor.map(_.toInt).getOrElse(0)
      val pages = feed.rows.grouped(src.pageSize).toVector
      val page = if (pageIdx < pages.length) pages(pageIdx) else Vector.empty
      PagedRestSource.Page(
        page.map { case (id, ts, amt) =>
          s"""{"id":$id,"ts_us":$ts,"amount":$amt}""" },
        if (pageIdx + 1 < pages.length) Some((pageIdx + 1).toString) else None)
    }
    val transform = (landing: DataFrame) =>
      landing.select(from_json(col("payload"),
          org.apache.spark.sql.types.StructType.fromDDL(
            "id long, ts_us long, amount double")).as("r"))
        .select(col("r.id").as("id"),
          timestamp_micros(col("r.ts_us")).as("ts"),
          col("r.amount").as("amount"))
    Pipeline.SourceRunner(fetch, provider, transform,
      tsCol = "ts", keys = Seq("id"), expectations = expectations)
  }

  test("three-source incremental cycle end-to-end, twice, with a crash replay") {
    val root = Files.createTempDirectory("pipe").toString
    val e = env(s"$root/control")
    val cfg = PipelineConfig.fromEnv(e.get)
    val feeds = cfg.sources.map(s => s.id -> new Feed).toMap
    val runners = cfg.sources.map(s =>
      s.id -> runner(s, feeds(s.id), e)).toMap

    // window 1: 12 rows per source (3 pages of ETL_PAGE_SIZE=5, 5, 2)
    for ((id, f) <- feeds)
      f.rows = (0L until 12L).map(i =>
        (i, 1000000L + i * 1000L, id.length + i * 0.5)).toVector

    val r1 = Pipeline.runIncremental(spark, cfg, runners, root, "b1")
    assert(r1.map(_.sourceId) == cfg.sources.map(_.id))
    for (r <- r1) {
      assert(r.pages == 3 && r.landedRows == 12 && r.loadedRows == 12,
        s"${r.sourceId}: $r")
      assert(r.watermarkUs == 1000000L + 11L * 1000L)
      assert(spark.read.parquet(s"$root/target/${r.sourceId}").count() == 12)
    }
    val control = spark.read.parquet(cfg.controlDir)
    assert(control.where(col("status") === "SUCCESS").count() == 3)

    // window 2: 6 NEW rows per source + an UPDATE of id=0 (later ts),
    // plus the replayed boundary row the watermark window re-reads
    for ((id, f) <- feeds)
      f.rows = Vector((0L, 2000000L, 99.0)) ++
        (100L until 105L).map(i => (i, 2000000L + i, 1.0)) ++
        f.rows.takeRight(1) // boundary replay: ts == watermark
    val r2 = Pipeline.runIncremental(spark, cfg, runners, root, "b2")
    for (r <- r2) {
      val tgt = spark.read.parquet(s"$root/target/${r.sourceId}")
      assert(tgt.count() == 17, s"${r.sourceId}: 12 + 5 new = 17")
      // MERGE kept the LATEST version of id=0
      assert(tgt.where(col("id") === 0).head().getAs[Double]("amount") == 99.0)
      assert(r.watermarkUs == 2000104L)
    }

    // crash replay: b3 for crm stops after publish, before commit —
    // the worst-ordered crash; the rerun must converge exactly-once
    for ((_, f) <- feeds)
      f.rows = Vector((200L, 3000000L, 7.0), (201L, 3000001L, 8.0))
    val r3a = Pipeline.runIncremental(spark, cfg, runners, root, "b3",
      failBeforeCommit = Set("crm"))
    assert(r3a.find(_.sourceId == "crm").get.loadedRows == 2)
    // crm's target is published but its watermark did NOT commit
    assert(EtlControl.lastWatermarkMicros(spark, cfg.controlDir, "crm",
      0L) == 2000104L)
    val r3b = Pipeline.runIncremental(spark, cfg, runners, root, "b3")
    val crm = spark.read.parquet(s"$root/target/crm")
    assert(crm.count() == 19, "replay must not duplicate the crash window")
    assert(crm.where(col("id") === 200).count() == 1)
    assert(EtlControl.lastWatermarkMicros(spark, cfg.controlDir, "crm",
      0L) == 3000001L)
    assert(r3b.forall(_.watermarkUs == 3000001L))
  }

  test("full load honours the cross-source stage order (shopee >> [misa, tiktok])") {
    val root = Files.createTempDirectory("pipe-full").toString
    val e = env(s"$root/control")
    val cfg = PipelineConfig.fromEnv(e.get)
    val fetchLog = scala.collection.mutable.ArrayBuffer.empty[String]
    val feeds = cfg.sources.map { s =>
      val f = new Feed
      f.rows = (0L until 7L).map(i => (i, 1000L + i, 1.0)).toVector
      s.id -> f
    }.toMap
    val runners = cfg.sources.map(s =>
      s.id -> runner(s, feeds(s.id), e, fetchLog = fetchLog)).toMap
    val res = Pipeline.runFullLoad(spark, cfg, runners, root, "full1",
      stages = Seq(Seq("marketplace"), Seq("crm", "shop_stream")))
    // results come back in stage order and every fetch of stage 1
    // happened before any fetch of stage 2
    assert(res.map(_.sourceId) == Seq("marketplace", "crm", "shop_stream"))
    val lastMkt = fetchLog.lastIndexOf("marketplace")
    val firstOther = fetchLog.indexWhere(_ != "marketplace")
    assert(lastMkt >= 0 && (firstOther == -1 || lastMkt < firstOther),
      s"stage order violated: $fetchLog")
    // bootstrap load lands all rows; a re-run with identical data is a
    // diff-gated IDLE, not a rewrite
    for (id <- Seq("marketplace", "crm", "shop_stream"))
      assert(spark.read.parquet(s"$root/target/$id").count() == 7)
    // both sources of the concurrent second group loaded
    assert(res.drop(1).forall(r => r.landedRows == 7 && r.loadedRows == 7),
      s"second group: ${res.drop(1)}")
    val res2 = Pipeline.runFullLoad(spark, cfg, runners, root, "full2",
      stages = Seq(Seq("marketplace"), Seq("crm", "shop_stream")))
    assert(res2.forall(_.loadedRows == 0), "unchanged snapshot → no churn")
    assert(spark.read.parquet(cfg.controlDir)
      .where(col("status") === "IDLE").count() == 3)
    // unknown/duplicate stage ids fail loudly
    intercept[IllegalArgumentException](Pipeline.runFullLoad(spark, cfg,
      runners, root, "x", stages = Seq(Seq("nope"))))
  }

  test("a failed expectation aborts the source BEFORE the load touches the target") {
    val root = Files.createTempDirectory("pipe-val").toString
    val e = env(s"$root/control", retries = "0")
    val cfg = PipelineConfig.fromEnv(e.get)
    val src = cfg.source("shop_stream")
    val feed = new Feed
    feed.rows = (0L until 4L).map(i => (i, 1000L + i, -5.0)).toVector
    val bad = runner(src, feed, e, expectations =
      Seq(Validate.InRange("amount", min = Some(0.0), max = None)))
    intercept[Pipeline.ValidationException] {
      Pipeline.runIncremental(spark, cfg, Map(src.id -> bad), root, "b1")
    }
    // target never created; failure logged; no SUCCESS commit
    assert(!new java.io.File(s"$root/target/${src.id}").exists())
    assert(spark.read.parquet(s"$root/failures")
      .where(col("error_class").contains("ValidationException")).count() >= 1)
    val ctl = new java.io.File(cfg.controlDir)
    assert(!ctl.exists() || ctl.listFiles() == null ||
      ctl.listFiles().isEmpty ||
      spark.read.parquet(cfg.controlDir)
        .where(col("status") === "SUCCESS").isEmpty)
    // the lease released on failure: a fresh run with fixed data works
    feed.rows = feed.rows.map { case (i, t, _) => (i, t, 5.0) }
    val ok = Pipeline.runIncremental(spark, cfg, Map(src.id -> bad), root, "b2")
    assert(ok.head.loadedRows == 4)
  }

  /** Config with all three sources, each fed 4 rows of amount
    * `amount(sourceId)`, every runner gated on amount >= 0; the third
    * result refills every feed with the next window. */
  private def threeSources(root: String, amount: String => Double,
      wrap: Pipeline.SourceRunner => Pipeline.SourceRunner = identity) = {
    val e = env(s"$root/control", retries = "0")
    val cfg = PipelineConfig.fromEnv(e.get)
    val feeds = cfg.sources.map(s => s.id -> new Feed).toMap
    var window = 0L
    // each refill is a new window: same keys, later timestamps
    def refill(): Unit = {
      window += 1
      for ((id, f) <- feeds) f.rows =
        (0L until 4L).map(i => (i, window * 100000L + i, amount(id))).toVector
    }
    refill()
    val runners = cfg.sources.map(s => s.id -> wrap(runner(s, feeds(s.id), e,
      expectations = Seq(Validate.InRange("amount", min = Some(0.0),
        max = None))))).toMap
    (cfg, runners, () => refill())
  }

  private def successes(cfg: PipelineConfig.Resolved, batch: String) =
    spark.read.parquet(cfg.controlDir)
      .where(col("status") === "SUCCESS" && col("batch_id") === batch)
      .select("source_id").collect().map(_.getString(0)).toSet

  test("one failing source leaves its concurrent siblings loaded and committed") {
    val root = Files.createTempDirectory("pipe-sib").toString
    var bad = Set("crm")
    val (cfg, runners, refill) =
      threeSources(root, id => if (bad(id)) -1.0 else 2.0)
    val ex = intercept[Pipeline.ValidationException] {
      Pipeline.runIncremental(spark, cfg, runners, root, "b1")
    }
    assert(ex.getMessage.startsWith("crm/b1"), ex.getMessage)
    assert(ex.getSuppressed.isEmpty)
    // the siblings published their targets and committed SUCCESS; the
    // failed source has neither
    for (id <- Seq("shop_stream", "marketplace"))
      assert(spark.read.parquet(s"$root/target/$id").count() == 4, id)
    assert(!new java.io.File(s"$root/target/crm").exists())
    assert(successes(cfg, "b1") == Set("shop_stream", "marketplace"))

    // two failures: the first in config order surfaces, the other rides
    // along as suppressed
    bad = Set("marketplace", "crm")
    refill()
    val ex2 = intercept[Pipeline.ValidationException] {
      Pipeline.runIncremental(spark, cfg, runners, root, "b2")
    }
    assert(ex2.getMessage.startsWith("crm/b2"), ex2.getMessage)
    assert(ex2.getSuppressed.map(_.getMessage.takeWhile(_ != ':')).toSeq ==
      Seq("marketplace/b2"))
    assert(successes(cfg, "b2") == Set("shop_stream"))

    // the lease was released only after every chain ended, and then
    // released: an immediate rerun acquires it and every source loads
    bad = Set.empty
    refill()
    val ok = Pipeline.runIncremental(spark, cfg, runners, root, "b3")
    assert(ok.map(_.sourceId) == cfg.sources.map(_.id))
    assert(spark.read.parquet(s"$root/target/crm").count() == 4)
    assert(successes(cfg, "b3") == cfg.sources.map(_.id).toSet)
  }

  test("fetch and transform callbacks never overlap, though the source chains do") {
    val root = Files.createTempDirectory("pipe-cb").toString
    val inFlight = new java.util.concurrent.atomic.AtomicInteger
    val maxInFlight = new java.util.concurrent.atomic.AtomicInteger
    val calls = new AtomicLong
    val threads = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
    def tracked[T](body: => T): T = {
      maxInFlight.accumulateAndGet(inFlight.incrementAndGet(), (a, b) => math.max(a, b))
      calls.incrementAndGet()
      threads.add(Thread.currentThread().getName)
      // long enough that unserialized callbacks would overlap
      try { Thread.sleep(20); body } finally { inFlight.decrementAndGet(); () }
    }
    val (cfg, runners, _) = threeSources(root, _ => 1.0, r => r.copy(
      fetch = (c, t) => tracked(r.fetch(c, t)),
      transform = df => tracked(r.transform(df))))
    val res = Pipeline.runIncremental(spark, cfg, runners, root, "b1")
    assert(res.forall(_.loadedRows == 4))
    assert(calls.get() == 6, "one page + one transform per source")
    assert(maxInFlight.get() == 1)
    // each chain ran on its own pipeline thread, not the caller's
    assert(threads.size == 3 &&
      threads.stream().allMatch(_.startsWith("graft-pipeline-")), threads)
  }

  test("the caller's job group and local properties reach every job of every source") {
    val root = Files.createTempDirectory("pipe-props").toString
    val (cfg, runners, _) = threeSources(root, _ => 1.0)
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[java.util.Properties]
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        seen.add(Option(e.properties).getOrElse(new java.util.Properties))
    }
    val sc = spark.sparkContext
    // listener events arrive in order: once a job tagged `mark` is seen,
    // every job started before it has been
    def drain(mark: String): Unit = {
      sc.setLocalProperty("graft.test.mark", mark)
      try sc.parallelize(Seq(1), 1).count()
      finally sc.setLocalProperty("graft.test.mark", null)
      def marked = seen.stream().anyMatch(_.getProperty("graft.test.mark") == mark)
      val deadline = System.nanoTime() + 30000000000L
      while (!marked && System.nanoTime() < deadline) Thread.sleep(10)
      assert(marked, s"listener never saw the $mark job")
    }
    sc.addSparkListener(listener)
    try {
      drain("before")
      seen.clear()
      sc.setJobGroup("pipe-props-group", "pipeline under a job group")
      sc.setLocalProperty("graft.test.caller", "pipe-props")
      try Pipeline.runIncremental(spark, cfg, runners, root, "b1")
      finally {
        sc.clearJobGroup()
        sc.setLocalProperty("graft.test.caller", null)
      }
      drain("after")
    } finally sc.removeSparkListener(listener)
    val jobs = seen.toArray(Array.empty[java.util.Properties])
      .filter(_.getProperty("graft.test.mark") == null)
    // three sources, each with the two jobs of its MERGE write
    assert(jobs.length >= 3 * 2, s"${jobs.length} jobs")
    assert(jobs.forall(p =>
      p.getProperty("spark.jobGroup.id") == "pipe-props-group" &&
        p.getProperty("graft.test.caller") == "pipe-props"))
  }

  test("a three-source cycle with a four-expectation gate runs at most 6 Spark jobs") {
    val root = Files.createTempDirectory("pipe-jobs").toString
    // the gate of the bench's order sources: NotNull + Unique on the key,
    // a range and a status set
    val (cfg, runners, refill) = threeSources(root, _ => 1.0, r => r.copy(
      transform = df => r.transform(df).withColumn("status", lit("COMPLETED")),
      expectations = Seq(Validate.NotNull("id"), Validate.Unique("id"),
        Validate.InRange("amount", min = Some(0.0), max = None),
        Validate.InSet("status", Seq("COMPLETED", "CANCELLED")))))
    Pipeline.runIncremental(spark, cfg, runners, root, "b1")
    refill()
    var res: Seq[Pipeline.CycleResult] = Nil
    val jobs = jobsOf { res = Pipeline.runIncremental(spark, cfg, runners, root, "b2") }
    assert(res.map(_.loadedRows) == Seq(4L, 4L, 4L))
    assert(jobs <= 6, s"$jobs jobs")
    assert(successes(cfg, "b2") == cfg.sources.map(_.id).toSet)
  }
}
