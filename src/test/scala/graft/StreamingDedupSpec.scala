package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import graft.streaming.StreamingDedup
import graft.streaming.StreamingDedup.Upd

class StreamingDedupSpec extends SparkTestBase {

  test("streaming keep-last upsert across micro-batches") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._

    val input = MemoryStream[Upd]
    val result = StreamingDedup.keepLastStream(spark, input.toDS())
    val query = result.writeStream
      .format("memory")
      .queryName("keeplast_out")
      .outputMode("update")
      .start()
    try {
      input.addData(Upd(1L, 1L, "created", 10.0), Upd(2L, 1L, "created", 5.0))
      query.processAllAvailable()
      input.addData(Upd(1L, 2L, "paid", 12.0))
      query.processAllAvailable()
      // stale replay for key 1 (seq 1) must NOT displace seq 2
      input.addData(Upd(1L, 1L, "created", 10.0), Upd(3L, 1L, "created", 7.0))
      query.processAllAvailable()

      val latest = spark.sql(
        """SELECT key, status FROM (
          |  SELECT *, row_number() OVER (PARTITION BY key ORDER BY seq DESC) rn
          |  FROM keeplast_out) WHERE rn = 1 ORDER BY key""".stripMargin)
        .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
      assert(latest == Seq((1L, "paid"), (2L, "created"), (3L, "created")))
    } finally query.stop()
  }

  test("windowed counts aggregate per day/type with a watermark") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._

    val input = MemoryStream[(java.sql.Timestamp, String, Double)]
    val df = input.toDF().toDF("ts", "event_type", "value")
    val result = StreamingDedup.windowedCounts(spark, df)
    val query = result.writeStream
      .format("memory").queryName("windowed_out").outputMode("update").start()
    try {
      def ts(s: String) = java.sql.Timestamp.valueOf(s)
      input.addData(
        (ts("2024-01-01 10:00:00"), "click", 1.0),
        (ts("2024-01-01 11:00:00"), "click", 2.0),
        (ts("2024-01-02 09:00:00"), "view", 5.0))
      query.processAllAvailable()
      val rows = spark.sql(
        """SELECT date_format(window.start, 'yyyy-MM-dd') AS d, event_type,
          |  max(n_events) AS n, max(total_value) AS v
          |FROM windowed_out GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)
        .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getDouble(3))).toSeq
      assert(rows == Seq(
        ("2024-01-01", "click", 2L, 3.0),
        ("2024-01-02", "view", 1L, 5.0)))
    } finally query.stop()
  }

  test("windowed quantile sketch merges across micro-batches") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._

    val input = MemoryStream[(java.sql.Timestamp, String, Double)]
    val df = input.toDF().toDF("ts", "event_type", "value")
    val query = StreamingDedup.windowedQuantiles(df).writeStream
      .format("memory").queryName("quantile_out").outputMode("update").start()
    try {
      def ts(s: String) = java.sql.Timestamp.valueOf(s)
      val batch1 = (1 to 60).map(i => (ts("2024-01-01 10:00:00"), "click", i.toDouble))
      val batch2 = (61 to 100).map(i => (ts("2024-01-01 11:00:00"), "click", i.toDouble))
      input.addData(batch1: _*)
      query.processAllAvailable()
      input.addData(batch2: _*) // second micro-batch folds into the SAME window
      query.processAllAvailable()
      val r = spark.sql(
        """SELECT n_events, p50, p95 FROM quantile_out
          |WHERE n_events = (SELECT max(n_events) FROM quantile_out)""".stripMargin)
        .collect().head
      // the sketch saw all 100 values (1..100), not just batch 2's 40
      assert(r.getLong(0) === 100L)
      assert(math.abs(r.getDouble(1) - 50.0) <= 1.0, s"p50 ${r.getDouble(1)}")
      assert(math.abs(r.getDouble(2) - 95.0) <= 1.0, s"p95 ${r.getDouble(2)}")
    } finally query.stop()
  }

  test("streaming dedup within watermark drops replayed keys, bounded state") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._

    val input = MemoryStream[(java.sql.Timestamp, Long, String)]
    val df = input.toDF().toDF("ts", "order_sn", "status")
    val result = StreamingDedup.dedupWithinWatermark(df, Seq("order_sn"), "ts")
    val query = result.writeStream
      .format("memory").queryName("streamdedup_out").outputMode("append").start()
    try {
      def ts(s: String) = java.sql.Timestamp.valueOf(s)
      input.addData((ts("2024-01-01 10:00:00"), 1L, "created"),
        (ts("2024-01-01 10:00:01"), 1L, "created"), // dup within batch
        (ts("2024-01-01 10:00:02"), 2L, "created"))
      query.processAllAvailable()
      input.addData((ts("2024-01-01 10:30:00"), 1L, "created")) // replay, inside horizon
      query.processAllAvailable()
      val n = spark.sql("SELECT count(*) FROM streamdedup_out").head().getLong(0)
      assert(n == 2, s"expected 2 unique keys, got $n")
    } finally query.stop()
  }

  test("stream-stream interval join: clicks within the hour before the order") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._

    val orders = MemoryStream[(Long, java.sql.Timestamp)]
    val clicks = MemoryStream[(Long, java.sql.Timestamp, String)]
    val joined = StreamingDedup.intervalJoin(
      orders.toDF().toDF("user_id", "order_ts"),
      clicks.toDF().toDF("user_id", "click_ts", "page"),
      key = "user_id", leftTs = "order_ts", rightTs = "click_ts",
      lowerBound = "-1 hours", upperBound = "0 seconds")
    val query = joined.writeStream
      .format("memory").queryName("ivjoin_out").outputMode("append").start()
    try {
      def ts(s: String) = java.sql.Timestamp.valueOf(s)
      orders.addData((1L, ts("2024-01-01 10:00:00")))
      clicks.addData(
        (1L, ts("2024-01-01 09:30:00"), "pdp"),   // inside the hour
        (1L, ts("2024-01-01 08:30:00"), "home"),  // too early
        (1L, ts("2024-01-01 10:30:00"), "post"),  // after the order
        (2L, ts("2024-01-01 09:45:00"), "pdp"))   // other user
      query.processAllAvailable()
      // far-future rows push BOTH watermarks past the matches above
      orders.addData((99L, ts("2024-01-01 20:00:00")))
      clicks.addData((99L, ts("2024-01-01 20:00:00"), "x"))
      query.processAllAvailable()
      val rows = spark.sql(
        "SELECT user_id, page FROM ivjoin_out WHERE user_id = 1 ORDER BY page")
        .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
      assert(rows == Seq((1L, "pdp")),
        s"expected only the in-window click, got ${rows.mkString(",")}")
      // state must be evicted behind the watermark: plan carries
      // event-time range conditions on both sides
      val plan = joined.queryExecution.analyzed.toString
      assert(plan.contains("order_ts") && plan.contains("click_ts"))
    } finally query.stop()
  }

  test("streaming sessionization: sessions close at the gap, finalized by the watermark") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._

    val input = MemoryStream[(java.sql.Timestamp, Long, Double)]
    val df = input.toDF().toDF("ts", "user_id", "value")
    val result = StreamingDedup.sessionizeStream(df) // gap 30m, wm 1h
    val query = result.writeStream
      .format("memory").queryName("sess_out").outputMode("append").start()
    try {
      def ts(s: String) = java.sql.Timestamp.valueOf(s)
      input.addData(
        (ts("2024-01-01 10:00:00"), 1L, 1.0),
        (ts("2024-01-01 10:10:00"), 1L, 2.0),
        (ts("2024-01-01 10:20:00"), 1L, 3.0))
      query.processAllAvailable()
      input.addData(
        (ts("2024-01-01 12:00:00"), 1L, 4.0),
        (ts("2024-01-01 12:05:00"), 1L, 5.0),
        (ts("2024-01-01 10:15:00"), 2L, 1.0)) // other user, interleaved
      query.processAllAvailable()
      // push the watermark past every planted session's end + gap
      input.addData((ts("2024-01-01 15:00:00"), 9L, 0.0))
      query.processAllAvailable()
      input.addData((ts("2024-01-01 18:00:00"), 9L, 0.0))
      query.processAllAvailable()
      input.addData((ts("2024-01-01 20:00:00"), 9L, 0.0))
      query.processAllAvailable()
      val rows = spark.sql(
        """SELECT user_id, date_format(session_start, 'HH:mm') AS s,
          |  date_format(session_end, 'HH:mm') AS e, n_events, total_value
          |FROM sess_out ORDER BY user_id, s""".stripMargin)
        .collect()
        .map(r => (r.getLong(0), r.getString(1), r.getString(2),
          r.getLong(3), r.getDouble(4))).toSeq
      // session end = last event + gap; user 1 splits at the 100-min
      // silence; the 20:00 session is still open (watermark 19:00 <
      // 20:30) and must NOT be emitted
      assert(rows == Seq(
        (1L, "10:00", "10:50", 3L, 6.0),
        (1L, "12:00", "12:35", 2L, 9.0),
        (2L, "10:15", "10:45", 1L, 1.0),
        (9L, "15:00", "15:30", 1L, 0.0),
        (9L, "18:00", "18:30", 1L, 0.0)),
        s"unexpected sessions: ${rows.mkString("; ")}")
    } finally query.stop()
  }

  test("map-only ops gate a stream unchanged: classifier scores match batch exactly") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    import graft.functions.TextFunctions
    // classifierScoreMilli is a pure Column expression, so it applies
    // to a readStream unchanged — no state, no watermark, no shuffle
    val docs = Tables.load(spark, sf0001, "documents")
      .select("doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getString(1))).take(100)
    val input = MemoryStream[(Long, String)]
    val scored = input.toDF().toDF("doc_id", "text")
      .withColumn("score_milli", TextFunctions.classifierScoreMilli(col("text")))
      .where(col("score_milli") > 0)
    val query = scored.writeStream.format("memory")
      .queryName("clf_stream_out").outputMode("append").start()
    try {
      input.addData(docs.take(50).toSeq: _*)
      query.processAllAvailable()
      input.addData(docs.drop(50).toSeq: _*)
      query.processAllAvailable()
    } finally query.stop()
    val streamed = spark.sql("SELECT doc_id, score_milli FROM clf_stream_out")
      .collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    val batch = docs.toSeq.toDF("doc_id", "text")
      .withColumn("score_milli", TextFunctions.classifierScoreMilli(col("text")))
      .where(col("score_milli") > 0)
      .select("doc_id", "score_milli")
      .collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    assert(streamed == batch && streamed.nonEmpty)
  }

  test("TRAINED-weight gate on a stream: broadcast weight scoring per micro-batch equals batch") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    import graft.operators.ImportanceModel
    // the production shape: weights are a pretrained artifact (trained
    // once, batch-side — the q81 discipline); the STREAM scores each
    // micro-batch through the broadcast weight join inside foreachBatch
    // (scoring has a per-doc aggregate, so it composes there rather
    // than as a bare stream expression)
    val corpus = Tables.load(spark, sf0001, "documents")
      .select("doc_id", "text", "lang")
    val weights = ImportanceModel.train(corpus, "text", col("lang") === "en")
      .persist()
    weights.count()
    val docs = corpus.select("doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getString(1))).take(100)
    val out = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Long)]()
    val input = MemoryStream[(Long, String)]
    val query = input.toDF().toDF("doc_id", "text")
      .writeStream.outputMode("append").foreachBatch {
        (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
          ImportanceModel.score(batch.toDF(), "doc_id", "text", weights)
            .select("doc_id", "score_milli")
            .collect().foreach(r => out.add((r.getLong(0), r.getLong(1))))
          ()
      }.start()
    try {
      input.addData(docs.take(50).toSeq: _*)
      query.processAllAvailable()
      input.addData(docs.drop(50).toSeq: _*)
      query.processAllAvailable()
    } finally query.stop()
    val streamed = out.toArray(Array.empty[(Long, Long)]).sorted.toSeq
    val batchSide = ImportanceModel.score(
        docs.toSeq.toDF("doc_id", "text"), "doc_id", "text", weights)
      .select("doc_id", "score_milli")
      .collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    assert(streamed == batchSide && streamed.nonEmpty,
      "per-batch trained-weight scoring must equal the batch gate")
    weights.unpersist()
  }

  test("continuousDedup: duplicate ids WITHIN one micro-batch append once") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    def tmp(p: String): String =
      java.nio.file.Files.createTempDirectory(p).toString
    val corpus = tmp("cdd-corpus") + "/docs"
    val control = tmp("cdd-control")
    val artifact = tmp("cdd-artifact") + "/bb"
    val assign = tmp("cdd-assign") + "/cc"
    val docs = Tables.load(spark, sf0001, "documents")
      .select("doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getString(1))).sortBy(_._1).take(60)
    val input = MemoryStream[(Long, String)]
    val query = StreamingDedup.continuousDedup(
        input.toDF().toDF("doc_id", "text"),
        corpus, control, artifact, assign, "stream", "doc_id", "text")
      .option("checkpointLocation", tmp("cdd-ckpt"))
      .start()
    try {
      // at-least-once source: every doc delivered TWICE inside the
      // batch — the corpus anti join alone cannot catch these (the
      // corpus doesn't hold them yet), only the intra-batch dedupe does
      input.addData((docs ++ docs).toSeq: _*)
      query.processAllAvailable()
      // next batch redelivers half of batch 1, again duplicated
      input.addData((docs.take(30) ++ docs.take(30)).toSeq: _*)
      query.processAllAvailable()
    } finally query.stop()
    val ids = spark.read.parquet(corpus).groupBy("doc_id").count()
    assert(ids.where(col("count") > 1).isEmpty, "no duplicate corpus ids")
    assert(ids.count() == docs.length.toLong)
    // and the artifact holds exactly `bands` rows per doc — no 2x rows
    val bb = spark.read.parquet(artifact).groupBy("doc").count()
    assert(bb.where(col("count") =!= 16).isEmpty,
      "exactly bands band rows per doc in the artifact")
  }

  test("continuousDedup: streamed micro-batches equal one big rebuild; redelivery is a no-op") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    import graft.operators.{DupGroups, LshArtifact}

    def tmp(p: String): String =
      java.nio.file.Files.createTempDirectory(p).toString
    val corpus = tmp("cd-corpus") + "/docs"
    val control = tmp("cd-control")
    val artifact = tmp("cd-artifact") + "/bb"
    val assign = tmp("cd-assign") + "/cc"

    val docs = Tables.load(spark, sf0001, "documents")
      .select("doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getString(1))).sortBy(_._1)
    val (day1, day2) = docs.partition(_._1 < 250)

    val input = MemoryStream[(Long, String)]
    val query = StreamingDedup.continuousDedup(
        input.toDF().toDF("doc_id", "text"),
        corpus, control, artifact, assign, "stream", "doc_id", "text")
      .option("checkpointLocation", tmp("cd-ckpt"))
      .start()
    try {
      input.addData(day1.toSeq: _*)
      query.processAllAvailable()
      val afterB0 = spark.read.parquet(assign).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(afterB0.nonEmpty, "batch 0 must produce dup clusters")

      input.addData(day2.toSeq: _*)
      query.processAllAvailable()
    } finally query.stop()

    // the corpus lake table carries exactly the streamed docs
    assert(spark.read.parquet(corpus).count() == docs.length.toLong)

    // maintained assignment == one big batch rebuild over everything
    def rebuilt: Map[Long, Long] = {
      val ctl = tmp("cd-rb-ctl"); val art = tmp("cd-rb-art") + "/bb"
      val full = spark.read.parquet(corpus)
      LshArtifact.refresh(spark, ctl, art, "rb", full, "doc_id", "text", "rb1")
      DupGroups.connectedComponents(
        LshArtifact.verifiedPairs(spark, art, full, "doc_id", "text", 0.5),
        "doc_a", "doc_b")
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    }
    def assignment: Map[Long, Long] =
      spark.read.parquet(assign).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val want = rebuilt
    assert(assignment == want,
      "streamed maintenance must equal the full rebuild")

    // foreachBatch REDELIVERY of the last committed batch: the corpus
    // append anti-joins to nothing, the signature watermark excludes
    // everything, and the control log skips the fold — pure no-op
    val (signed, _, nAssign) = LshArtifact.dailyDedupRun(spark, control,
      artifact, assign, "stream", spark.read.parquet(corpus),
      "doc_id", "text", batchId = "stream-1")
    assert(signed == 0L && nAssign == want.size.toLong)
    assert(assignment == want, "redelivery must not change the assignment")
  }

  test("continuousSubstringDedup: id-ordered batches equal whole-corpus substringDedup; redelivery is a no-op") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    import graft.operators.TextDedup
    def tmp(p: String): String =
      java.nio.file.Files.createTempDirectory(p).toString
    val out = tmp("csd-out") + "/docs"
    val store = tmp("csd-store") + "/hashes"

    // shifted banner across batches: later batches' copies must be
    // removed against windows the store learned from EARLIER batches
    val banner = "b01 b02 b03 b04 b05 b06 b07 b08 b09 b10"
    val docs = Tables.load(spark, sf0001, "documents")
      .select("doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getString(1))).sortBy(_._1)
      .take(90)
      .map { case (id, text) =>
        val toks = text.split(" ")
        val k = (id % 5).toInt.min(toks.length)
        if (id % 3 == 1)
          (id, (toks.take(k) ++ banner.split(" ") ++ toks.drop(k)).mkString(" "))
        else (id, text)
      }
    val Array(b1, b2, b3) = docs.grouped(30).toArray

    val input = MemoryStream[(Long, String)]
    val query = StreamingDedup.continuousSubstringDedup(
        input.toDF().toDF("doc_id", "text"), out, store, "doc_id", "text",
        spanTokens = 10)
      .option("checkpointLocation", tmp("csd-ckpt"))
      .start()
    try {
      input.addData((b1 ++ b1).toSeq: _*) // intra-batch duplicates
      query.processAllAvailable()
      input.addData(b2.toSeq: _*)
      query.processAllAvailable()
      input.addData((b3 ++ b2.take(10)).toSeq: _*) // partial redelivery
      query.processAllAvailable()
    } finally query.stop()

    def resultSet(df: org.apache.spark.sql.DataFrame): Set[(Long, String, Long, Long)] =
      df.collect().map(r => (r.getLong(r.fieldIndex("doc_id")),
        r.getString(r.fieldIndex("text")),
        r.getLong(r.fieldIndex("n_tokens_kept")),
        r.getLong(r.fieldIndex("n_tokens_total")))).toSet
    val want = resultSet(TextDedup.substringDedup(
      docs.toSeq.toDF("doc_id", "text"), "doc_id", "text", spanTokens = 10))
    assert(resultSet(spark.read.parquet(out)) == want,
      "streamed fold must equal the batch operator on id-ordered arrival")
    // the banner genuinely crossed batches: some doc lost tokens
    assert(want.exists(r => r._3 < r._4), "planted spans must dedup")
    assert(spark.read.parquet(store).groupBy("window_hash").count()
      .where(col("count") > 1).isEmpty, "no duplicate store hashes")
  }

  test("continuousChunkDedup: id-ordered batches equal whole-corpus chunkDedup; redelivery and torn store heal") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    import graft.operators.TextDedup
    def tmp(p: String): String =
      java.nio.file.Files.createTempDirectory(p).toString
    val out = tmp("ccd-out") + "/docs"
    val store = tmp("ccd-store") + "/hashes"

    val docs = Tables.load(spark, sf0001, "documents")
      .select("doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getString(1))).sortBy(_._1)
      .take(120)
    val Array(b1, b2, b3) = docs.grouped(40).toArray

    val input = MemoryStream[(Long, String)]
    val query = StreamingDedup.continuousChunkDedup(
        input.toDF().toDF("doc_id", "text"), out, store, "doc_id", "text")
      .option("checkpointLocation", tmp("ccd-ckpt"))
      .start()
    try {
      // batch 1 delivered with intra-batch duplicates (at-least-once)
      input.addData((b1 ++ b1).toSeq: _*)
      query.processAllAvailable()
      input.addData(b2.toSeq: _*)
      query.processAllAvailable()
      // batch 3 redelivers half of batch 2 alongside the new docs
      input.addData((b3 ++ b2.take(20)).toSeq: _*)
      query.processAllAvailable()
    } finally query.stop()

    def resultSet(df: org.apache.spark.sql.DataFrame): Set[(Long, String, Long, Long)] =
      df.collect().map(r => (r.getLong(r.fieldIndex("doc_id")),
        r.getString(r.fieldIndex("text")),
        r.getLong(r.fieldIndex("n_chunks_kept")),
        r.getLong(r.fieldIndex("n_chunks_total")))).toSet
    val full = Tables.load(spark, sf0001, "documents")
      .select("doc_id", "text")
      .where(col("doc_id").isin(docs.map(_._1): _*))
    val want = resultSet(TextDedup.chunkDedup(full, "doc_id", "text"))
    assert(resultSet(spark.read.parquet(out)) == want,
      "streamed fold must equal the batch operator on id-ordered arrival")
    assert(spark.read.parquet(out).count() == docs.length.toLong)

    // torn window: a crashed run appended batch-4 hashes to the store
    // but never published the docs — redelivery must reprocess against
    // the PRE-crash prior (store rows tagged with the batch's own ids
    // are excluded), reproducing exactly the batch operator's answer
    val b4 = Tables.load(spark, sf0001, "documents")
      .select("doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getString(1))).sortBy(_._1)
      .slice(120, 160)
    val b4df = b4.toSeq.toDF("doc_id", "text")
    TextDedup.chunkHashes(b4df, "doc_id", "text")
      .join(spark.read.parquet(store).select("chunk_hash"),
        Seq("chunk_hash"), "left_anti")
      .write.mode(org.apache.spark.sql.SaveMode.Append).parquet(store)
    val query2 = StreamingDedup.continuousChunkDedup(
        input.toDF().toDF("doc_id", "text"), out, store, "doc_id", "text")
      .option("checkpointLocation", tmp("ccd-ckpt2"))
      .start()
    try {
      input.addData(b4.toSeq: _*)
      query2.processAllAvailable()
      // and a full redelivery of everything: pure no-op
      input.addData(docs.toSeq: _*)
      query2.processAllAvailable()
    } finally query2.stop()
    val fullPlus = Tables.load(spark, sf0001, "documents")
      .select("doc_id", "text")
      .where(col("doc_id").isin((docs ++ b4).map(_._1): _*))
    assert(resultSet(spark.read.parquet(out)) ==
      resultSet(TextDedup.chunkDedup(fullPlus, "doc_id", "text")),
      "torn store append must heal to the batch answer")
    // store holds one row per distinct chunk hash
    val dup = spark.read.parquet(store).groupBy("chunk_hash").count()
      .where(col("count") > 1)
    assert(dup.isEmpty, "no duplicate store hashes")
  }

  test("continuousChunkDedup: an output dir holding only a crashed write's _temporary/ is absent") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    def tmp(p: String): String =
      java.nio.file.Files.createTempDirectory(p).toString
    val out = tmp("ccd-tmp-out") + "/docs"
    val store = tmp("ccd-tmp-store") + "/hashes"
    // what a first append that crashed before its job commit leaves
    assert(new java.io.File(out + "/_temporary/0").mkdirs())
    val docs = Tables.load(spark, sf0001, "documents")
      .select("doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getString(1))).sortBy(_._1)
      .take(20)
    val input = MemoryStream[(Long, String)]
    val query = StreamingDedup.continuousChunkDedup(
        input.toDF().toDF("doc_id", "text"), out, store, "doc_id", "text")
      .option("checkpointLocation", tmp("ccd-tmp-ckpt"))
      .start()
    try {
      input.addData(docs.toSeq: _*)
      query.processAllAvailable()
    } finally query.stop()
    assert(spark.read.parquet(out).select("doc_id").as[Long].collect().sorted.toSeq ==
      docs.map(_._1).toSeq)
  }
}
