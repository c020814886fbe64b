package graft

import org.apache.hadoop.fs.Path

import graft.operators.Stats
import graft.sources.ParquetMeta

/** Footer-metadata row counts: exactness against the scan-based count
  * on every table (single-file and directory layouts), the distributed
  * path forced, and the q01 metadata form vs its scan twin. Footer
  * schemas: equality with Spark's own inference, and its fallbacks. */
class ParquetMetaSpec extends SparkTestBase {
  import spark.implicits._

  test("rowCount equals the scan count for every sf0.001 table") {
    for (t <- Tables.allTables) {
      val meta = ParquetMeta.rowCount(spark, s"$sf0001/$t.parquet")
      val scan = Tables.load(spark, sf0001, t).count()
      assert(meta == scan, s"table $t: footer $meta vs scan $scan")
    }
  }

  test("distributed path (maxDriverFiles=0) agrees with the driver pool") {
    for (t <- Seq("lineitem", "events", "region")) {
      val pool = ParquetMeta.rowCount(spark, s"$sf001/$t.parquet")
      val dist = ParquetMeta.rowCount(spark, s"$sf001/$t.parquet",
        maxDriverFiles = 0)
      assert(pool == dist, s"table $t: pool $pool vs distributed $dist")
    }
  }

  test("listing skips hidden/metadata files and recurses directories") {
    val tmp = java.nio.file.Files.createTempDirectory("pqmeta").toFile
    val kb = new java.io.File(tmp.getParentFile, tmp.getName + "-kb")
    def rm(f: java.io.File): Unit = {
      Option(f.listFiles()).foreach(_.foreach(rm)); f.delete()
    }
    try {
      val sub = new java.io.File(tmp, "part=a"); sub.mkdirs()
      spark.range(7).toDF("id").coalesce(1)
        .write.mode("overwrite").parquet(sub.getPath)
      // droppings a committer might leave behind
      new java.io.File(tmp, "_SUCCESS").createNewFile()
      new java.io.File(sub, ".stale.crc").createNewFile()
      // a crashed write's task file under _temporary/, of another schema
      val crashed = new java.io.File(sub, "_temporary/0/task_0")
      spark.range(3).selectExpr("cast(id as string) as s").coalesce(1)
        .write.parquet(crashed.getPath)
      val files = ParquetMeta.listDataFiles(spark, tmp.getPath)
      assert(files.nonEmpty &&
        files.forall(_.getName.endsWith(".parquet")))
      assert(ParquetMeta.rowCount(spark, tmp.getPath) == 7L)
      // the footer schema skips what Spark's file index skips
      assert(ParquetMeta.footerSchema(spark, sub.getPath) ==
        Some(spark.read.parquet(sub.getPath).schema))
      assert(ParquetMeta.footerSchema(spark, tmp.getPath).isEmpty) // partitioned
      // summary files are read first by Spark's inference: fall back
      new java.io.File(sub, "_common_metadata").createNewFile()
      assert(ParquetMeta.footerSchema(spark, sub.getPath).isEmpty)
      // a `_`-prefixed partition dir holds data: Spark keeps names with `=`
      spark.range(10).toDF("id")
        .withColumn("__kb", org.apache.spark.sql.functions.lit(1))
        .coalesce(1).write.partitionBy("__kb").parquet(kb.getPath)
      assert(new java.io.File(kb, "__kb=1").isDirectory)
      assert(ParquetMeta.rowCount(spark, kb.getPath) ==
        spark.read.parquet(kb.getPath).count())
    } finally { rm(tmp); rm(kb) }
  }

  test("footerSchema equals Spark's inference for every sf0.001 table, and loading one runs no job") {
    for (t <- Tables.allTables) {
      val p = s"$sf0001/$t.parquet"
      assert(ParquetMeta.footerSchema(spark, p) == Some(spark.read.parquet(p).schema), t)
    }
    for (t <- Tables.starTables) assert(jobsOf(Tables.load(spark, sf0001, t)) == 0, t)
    // events under the NTZ rule: its naive `ts` maps as the rule says
    val events = s"$sf0001/events.parquet"
    val key = "spark.sql.parquet.inferTimestampNTZ.enabled"
    spark.conf.set(key, "false")
    val ltz = try spark.read.parquet(events).schema finally spark.conf.unset(key)
    assert(ParquetMeta.footerSchema(spark, events, inferTimestampNTZ = Some(false)) ==
      Some(ltz))
    assert(ltz("ts").dataType == org.apache.spark.sql.types.TimestampType)
    assert(Tables.loadEvents(spark, sf0001).schema("ts").dataType ==
      org.apache.spark.sql.types.TimestampType)
    // a session that merges schemas: exact for one data file only
    val tmp = java.nio.file.Files.createTempDirectory("pqmerge").toString
    Seq(1L).toDF("a").write.mode("append").parquet(tmp)
    Seq(2L).toDF("b").write.mode("append").parquet(tmp)
    spark.conf.set("spark.sql.parquet.mergeSchema", "true")
    try {
      assert(ParquetMeta.footerSchema(spark, tmp).isEmpty)
      assert(ParquetMeta.readParquet(spark, tmp).columns.sorted.toSeq == Seq("a", "b"))
      assert(ParquetMeta.footerSchema(spark, events) ==
        Some(spark.read.parquet(events).schema))
    } finally spark.conf.unset("spark.sql.parquet.mergeSchema")
  }

  test("loadEvents never changes the session's NTZ setting") {
    val key = "spark.sql.parquet.inferTimestampNTZ.enabled"
    val before = spark.conf.getOption(key)
    @volatile var done = false
    val (polls, changes) = (new java.util.concurrent.atomic.AtomicLong,
      new java.util.concurrent.atomic.AtomicLong)
    val poller = new Thread(() => while (!done) {
      if (spark.conf.getOption(key) != before) changes.incrementAndGet()
      polls.incrementAndGet()
    })
    poller.start()
    val reader = new Thread(() =>
      for (_ <- 1 to 20) Tables.loadEvents(spark, sf0001).schema)
    reader.start()
    reader.join()
    done = true
    poller.join()
    assert(polls.get > 0 && changes.get == 0)
  }

  test("q01 metadata rowCounts ≡ scan-based twin (rows and order)") {
    val meta = Stats.rowCounts(spark, sf0001).collect().toSeq
    val scan = Stats.rowCountsScan(spark, sf0001).collect().toSeq
    assert(meta == scan)
  }

  test("columnStats: footer null counts and numeric min/max equal the scan") {
    import org.apache.spark.sql.functions._
    for ((table, cs) <- Seq(
        "lineitem" -> Seq("l_orderkey", "l_quantity", "l_extendedprice"),
        "events" -> Seq("event_id", "user_id", "value"))) {
      val meta = ParquetMeta.columnStats(spark, s"$sf001/$table.parquet", cs)
        .collect().map(r => r.getString(0) -> r).toMap
      val df = Tables.load(spark, sf001, table)
      val n = df.count()
      for (c <- cs) {
        val row = df.agg(
          coalesce(sum(when(col(c).isNull, 1L)), lit(0L)),
          min(col(c)).cast("double"), max(col(c)).cast("double")).head()
        val m = meta(c)
        assert(m.getLong(1) == n, s"$table.$c rows")
        assert(m.getLong(2) == row.getLong(0), s"$table.$c nulls")
        assert(m.getDouble(3) == row.getDouble(1), s"$table.$c min")
        assert(m.getDouble(4) == row.getDouble(2), s"$table.$c max")
      }
    }
  }

  test("columnStats: strings get exact nulls but never footer extremes; all-null columns don't veto") {
    import org.apache.spark.sql.functions._
    val tmp = java.nio.file.Files.createTempDirectory("pqstats").toFile
    try {
      // two files: one where `v` is all null, one with real values —
      // the all-null chunk must contribute nothing, not poison the merge
      Seq((1L, Option.empty[Double], Option("b")), (2L, None, Some("a")))
        .toDF("id", "v", "s").coalesce(1)
        .write.mode("append").parquet(tmp.getPath)
      Seq((3L, Some(7.5), Option.empty[String]))
        .toDF("id", "v", "s").coalesce(1)
        .write.mode("append").parquet(tmp.getPath)
      val out = ParquetMeta.columnStats(spark, tmp.getPath, Seq("id", "v", "s"))
        .collect().map(r => r.getString(0) -> r).toMap
      assert(out("id").getLong(2) == 0 && out("id").getDouble(3) == 1.0 &&
        out("id").getDouble(4) == 3.0)
      assert(out("v").getLong(2) == 2 && out("v").getDouble(3) == 7.5 &&
        out("v").getDouble(4) == 7.5)
      assert(out("s").getLong(2) == 1 &&
        out("s").isNullAt(3) && out("s").isNullAt(4)) // binary: no extremes
    } finally {
      def rm(f: java.io.File): Unit = {
        Option(f.listFiles()).foreach(_.foreach(rm)); f.delete()
      }
      rm(tmp)
    }
  }

  test("columnStats canonicalizes the footer's conservative -0.0 FP min to +0.0") {
    val tmp = java.nio.file.Files.createTempDirectory("pqzero").toFile
    try {
      // data min is exactly +0.0; parquet-mr records the CONSERVATIVE
      // bound -0.0 in the row-group stats. The emitted min must be the
      // canonical +0.0 (sign bit clear) so it hashes like the scan's.
      Seq(0.0d, 0.25d, 3.5d).toDF("v").coalesce(1)
        .write.mode("overwrite").parquet(tmp.getPath)
      val r = ParquetMeta.columnStats(spark, tmp.getPath, Seq("v")).head()
      val mn = r.getDouble(3)
      assert(mn == 0.0d &&
        java.lang.Double.doubleToRawLongBits(mn) == 0L,
        s"footer min bits ${java.lang.Double.doubleToRawLongBits(mn)}")
      assert(r.getDouble(4) == 3.5d)
    } finally {
      def rm(f: java.io.File): Unit = {
        Option(f.listFiles()).foreach(_.foreach(rm)); f.delete()
      }
      rm(tmp)
    }
  }

  test("columnStats distributed path agrees with the driver pool") {
    val a = ParquetMeta.columnStats(spark, s"$sf001/lineitem.parquet",
      Seq("l_orderkey", "l_quantity")).collect().toSeq
    val b = ParquetMeta.columnStats(spark, s"$sf001/lineitem.parquet",
      Seq("l_orderkey", "l_quantity"), maxDriverFiles = 0).collect().toSeq
    assert(a == b)
  }

  test("footerRowCount on a single file matches its scan") {
    val conf = spark.sessionState.newHadoopConf()
    val files = ParquetMeta.listDataFiles(spark, s"$sf0001/nation.parquet")
    val total = files.map(f => ParquetMeta.footerRowCount(conf, f)).sum
    assert(total == Tables.load(spark, sf0001, "nation").count())
  }
}
