package graft

import org.apache.hadoop.fs.Path

import graft.operators.Stats
import graft.sources.ParquetMeta

/** Footer-metadata row counts: exactness against the scan-based count
  * on every table (single-file and directory layouts), the distributed
  * path forced, and the q01 metadata form vs its scan twin. */
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
      val files = ParquetMeta.listDataFiles(spark, tmp.getPath)
      assert(files.nonEmpty &&
        files.forall(_.getName.endsWith(".parquet")))
      assert(ParquetMeta.rowCount(spark, tmp.getPath) == 7L)
      // a `_`-prefixed partition dir holds data: Spark keeps names with `=`
      spark.range(10).toDF("id")
        .withColumn("__kb", org.apache.spark.sql.functions.lit(1))
        .coalesce(1).write.partitionBy("__kb").parquet(kb.getPath)
      assert(new java.io.File(kb, "__kb=1").isDirectory)
      assert(ParquetMeta.rowCount(spark, kb.getPath) ==
        spark.read.parquet(kb.getPath).count())
    } finally { rm(tmp); rm(kb) }
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
