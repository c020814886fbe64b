package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.operators.{LshArtifact, MinHashLSH}

/** Persisted LSH band-bucket artifact: build once, incremental append
  * signs only NEW docs, crash replay is a no-op, and the candidate
  * join over the artifact matches a from-scratch run. */
class LshArtifactSpec extends SparkTestBase {

  private def tmp(prefix: String): String =
    Files.createTempDirectory(prefix).toString

  test("refresh signs only new docs; replayed and unchanged runs sign zero") {
    val control = tmp("lsh-control")
    val artifact = tmp("lsh-artifact") + "/bb" // refresh creates it
    val docs = Tables.load(spark, sf0001, "documents")
      .select("doc_id", "text")
    val d1 = docs.where(col("doc_id") < 60)
    val n1 = LshArtifact.refresh(spark, control, artifact, "docs", d1,
      "doc_id", "text", batchId = "b1")
    assert(n1 == d1.count())

    // unchanged corpus: ZERO signatures recomputed (watermark excludes
    // every doc before any shingle work happens)
    assert(LshArtifact.refresh(spark, control, artifact, "docs", d1,
      "doc_id", "text", batchId = "b2") == 0L)

    // grown corpus: only the delta is signed
    val n2 = LshArtifact.refresh(spark, control, artifact, "docs", docs,
      "doc_id", "text", batchId = "b3")
    assert(n2 == docs.count() - d1.count())

    // the artifact equals a from-scratch signature run, row for row
    val fresh = MinHashLSH.bandBuckets(docs, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getString(2))).toSet
    val art = LshArtifact.bandBuckets(spark, artifact)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getString(2))).toSet
    assert(art == fresh)
  }

  test("crash between append and commit replays into a no-op") {
    val control = tmp("lsh-control2")
    val artifact = tmp("lsh-artifact2") + "/bb"
    val docs = Tables.load(spark, sf0001, "documents")
      .select("doc_id", "text")
    val d1 = docs.where(col("doc_id") < 50)
    LshArtifact.refresh(spark, control, artifact, "docs", d1,
      "doc_id", "text", batchId = "b1")

    // crash-ordered run: rows for the new window land, watermark does not
    LshArtifact.refresh(spark, control, artifact, "docs", docs,
      "doc_id", "text", batchId = "b2", failBeforeCommit = true)

    // replay: the anti-join guard drops every already-landed row
    assert(LshArtifact.refresh(spark, control, artifact, "docs", docs,
      "doc_id", "text", batchId = "b2-replay") == 0L)

    // no duplicate doc rows, and content still equals a fresh rebuild
    val art = LshArtifact.bandBuckets(spark, artifact)
    assert(art.groupBy("doc", "band").count().where(col("count") > 1).isEmpty)
    val fresh = MinHashLSH.bandBuckets(docs, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getString(2))).toSet
    assert(art.collect().map(r => (r.getLong(0), r.getInt(1), r.getString(2))).toSet == fresh)

    // and the watermark DID advance through the replay: one more
    // unchanged run scans zero docs
    assert(LshArtifact.refresh(spark, control, artifact, "docs", docs,
      "doc_id", "text", batchId = "b3") == 0L)
  }

  test("torn append (partial band rows committed) is healed on replay") {
    val control = tmp("lsh-control4")
    val artifact = tmp("lsh-artifact4") + "/bb"
    val docs = Tables.load(spark, sf0001, "documents")
      .select("doc_id", "text")
    val d1 = docs.where(col("doc_id") < 50)
    LshArtifact.refresh(spark, control, artifact, "docs", d1,
      "doc_id", "text", batchId = "b1")
    // crash-ordered grown run: rows land, watermark does not
    LshArtifact.refresh(spark, control, artifact, "docs", docs,
      "doc_id", "text", batchId = "b2", failBeforeCommit = true)

    // simulate the committer-v2 tear: the job died with only HALF of
    // each new doc's band rows task-committed — a doc-presence replay
    // guard would now skip these docs forever with partial signatures
    val full = spark.read.parquet(artifact)
    val schema = full.schema
    val torn = full.where(!(col("doc") >= 50 && col("band") >= 8)).collect()
    val fs = new org.apache.hadoop.fs.Path(artifact)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(artifact), true)
    spark.createDataFrame(
      spark.sparkContext.parallelize(torn.toSeq), schema)
      .write.parquet(artifact)

    // replay appends exactly the missing (doc, band) rows
    LshArtifact.refresh(spark, control, artifact, "docs", docs,
      "doc_id", "text", batchId = "b2-replay")
    val art = LshArtifact.bandBuckets(spark, artifact)
    assert(art.groupBy("doc").count().where(col("count") =!= 16).isEmpty)
    assert(art.groupBy("doc", "band").count().where(col("count") > 1).isEmpty)
    val fresh = MinHashLSH.bandBuckets(docs, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getString(2))).toSet
    assert(art.collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getString(2))).toSet == fresh)
  }

  test("a crashed first append's leftover _temporary/ is no artifact: refresh equals a clean run") {
    val docs = Tables.load(spark, sf0001, "documents")
      .select("doc_id", "text")
    val artifact = tmp("lsh-artifact5") + "/bb"
    new java.io.File(artifact, "_temporary/0").mkdirs()
    assert(LshArtifact.refresh(spark, tmp("lsh-control5"), artifact, "docs",
      docs, "doc_id", "text", batchId = "b1") == docs.count())
    val clean = tmp("lsh-artifact6") + "/bb"
    LshArtifact.refresh(spark, tmp("lsh-control6"), clean, "docs", docs,
      "doc_id", "text", batchId = "b1")
    def pairs(dir: String) = LshArtifact.verifiedPairs(spark, dir, docs,
        "doc_id", "text", threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(LshArtifact.bandBuckets(spark, artifact).select("doc").distinct()
      .count() == docs.count())
    assert(pairs(artifact) == pairs(clean) && pairs(clean).nonEmpty)
  }

  test("dailyDedupRun: two growth days + worst-ordered crash equal the full rebuild") {
    import graft.operators.DupGroups
    val control = tmp("daily-control")
    val artifact = tmp("daily-artifact") + "/bb"
    val assign = tmp("daily-assign") + "/cc"
    val docs = Tables.load(spark, sf0001, "documents").select("doc_id", "text")
    val day1 = docs.where(col("doc_id") < 250)

    def assignment: Map[Long, Long] =
      spark.read.parquet(assign).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
    def rebuilt(d: org.apache.spark.sql.DataFrame): Map[Long, Long] = {
      val ctl = tmp("daily-rb-ctl"); val art = tmp("daily-rb-art") + "/bb"
      LshArtifact.refresh(spark, ctl, art, "rb", d, "doc_id", "text", "rb1")
      DupGroups.connectedComponents(
        LshArtifact.verifiedPairs(spark, art, d, "doc_id", "text", 0.5),
        "doc_a", "doc_b")
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    }

    // day 1: bootstrap — signs everything, full CC over the day's pairs
    val (s1, p1, _) = LshArtifact.dailyDedupRun(spark, control, artifact,
      assign, "corpus", day1, "doc_id", "text", batchId = "day1")
    assert(s1 == day1.count() && p1 > 0)
    assert(assignment == rebuilt(day1))

    // day 2 CRASHES after the signature commit + assignment publish but
    // before the cluster commit — the worst ordering for the composition
    LshArtifact.dailyDedupRun(spark, control, artifact, assign, "corpus",
      docs, "doc_id", "text", batchId = "day2", failBeforeCommit = true)
    // replay: signs ZERO docs (signature watermark advanced), rebuilds
    // the SAME pair batch (cluster watermark did not), refold is a no-op
    val (s2r, p2r, _) = LshArtifact.dailyDedupRun(spark, control, artifact,
      assign, "corpus", docs, "doc_id", "text", batchId = "day2")
    assert(s2r == 0L && p2r > 0)
    assert(assignment == rebuilt(docs))

    // redelivery of the committed day-2 batch: skipped without a fold
    val (_, _, n3) = LshArtifact.dailyDedupRun(spark, control, artifact,
      assign, "corpus", docs, "doc_id", "text", batchId = "day2")
    assert(n3 == assignment.size.toLong)
    assert(assignment == rebuilt(docs))

    // control log holds the two sources' cycles separately
    val log = spark.read.parquet(control)
    assert(log.where(col("source_id") === "corpus#sig").count() >= 2)
    assert(log.where(col("source_id") === "corpus#cc" &&
      col("status") === "SUCCESS").count() == 2)
  }

  test("incremental (sinceId) verified pairs equal the filtered full self-join") {
    val control = tmp("lsh-control4")
    val artifact = tmp("lsh-artifact4") + "/bb"
    val docs = Tables.load(spark, sf0001, "documents")
      .select("doc_id", "text")
    LshArtifact.refresh(spark, control, artifact, "docs", docs,
      "doc_id", "text", batchId = "b1")
    // pick a watermark that splits the corpus mid-range so candidates
    // exist in all three classes (old-old, old-new, new-new)
    val sinceId = 250L
    val incremental = LshArtifact.verifiedPairs(spark, artifact, docs,
        "doc_id", "text", threshold = 0.5, sinceId = sinceId)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    // the pre-r14 form: FULL self-join, then the touching-a-new-doc
    // filter above it
    val filtered = LshArtifact.verifiedPairs(spark, artifact, docs,
        "doc_id", "text", threshold = 0.5)
      .where(col("doc_a") > sinceId || col("doc_b") > sinceId)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(incremental == filtered && incremental.nonEmpty)
    // and the narrowing is real: old-old pairs are excluded
    assert(incremental.forall { case (a, b, _) => a > sinceId || b > sinceId })
  }

  test("artifact-backed verified pairs equal the in-session pipeline") {
    val control = tmp("lsh-control3")
    val artifact = tmp("lsh-artifact3") + "/bb"
    val docs = Tables.load(spark, sf0001, "documents")
      .select("doc_id", "text")
    LshArtifact.refresh(spark, control, artifact, "docs", docs,
      "doc_id", "text", batchId = "b1")
    val fromArtifact = LshArtifact.verifiedPairs(spark, artifact, docs,
        "doc_id", "text", threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val inSession = MinHashLSH.nearDupPairs(docs, "doc_id", "text",
        threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(fromArtifact == inSession && fromArtifact.nonEmpty)
  }
}
