package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.sources.{JsonOrderSource, PagedRestSource, ParquetMeta}
import graft.sources.PagedRestSource.Page

/** Paged-extraction contract against a deterministic fake transport:
  * cursor walking, bounded retry on transient failures, the runaway
  * guard, bounded-memory flushing, and composition with the
  * explicit-schema order parse + ERD normalize. */
class PagedRestSourceSpec extends SparkTestBase {

  private def orderLine(sn: Int): String =
    s"""{"order_sn":"SN$sn","order_status":"COMPLETED","total_amount":"$sn.5","cod":"true","create_time":${1700000000 + sn},"update_time":${1700000100 + sn},"recipient_address":{"name":"A$sn","city":"HCM","zipcode":"70000"},"item_list":[{"order_item_id":$sn,"item_id":${sn * 10},"item_name":"sku$sn","model_quantity_purchased":"1","model_original_price":"9.9","product_location_id":["W1"]}],"package_list":[]}"""

  /** 25 pages × 4 orders; cursor = stringified next page number. */
  private def pager(failOnce: collection.mutable.Set[Int] = collection.mutable.Set.empty)
      : Option[String] => Page = { cursor =>
    val p = cursor.map(_.toInt).getOrElse(0)
    if (failOnce.remove(p))
      throw new java.io.IOException(s"transient failure on page $p")
    val rows = (0 until 4).map(i => orderLine(p * 4 + i))
    Page(rows, if (p < 24) Some((p + 1).toString) else None)
  }

  test("cursor walk lands every page; transient failures retry; parse + normalize compose") {
    val landing = Files.createTempDirectory("paged-landing").toString + "/raw"
    // pages 3 and 17 fail once each — absorbed by bounded retry
    val (pages, rows) = PagedRestSource.fetchToLanding(spark,
      pager(collection.mutable.Set(3, 17)), landing, flushEvery = 7)
    assert(pages == 25L && rows == 100L)

    val landed = PagedRestSource.readLanding(spark, landing)
    assert(landed.count() == 100L)
    assert(landed.select(countDistinct(col("page_idx"))).head().getLong(0) == 25L)

    // landed payloads parse through the SAME explicit schema and feed
    // the ERD normalize unchanged — the full extractor → transformer
    // composition of the reference, offline
    val tables = JsonOrderSource.normalize(
      PagedRestSource.parseOrders(spark, landing))
    assert(tables("orders").count() == 100L)
    assert(tables("order_items").count() == 100L)
    assert(tables("orders").where(col("order_sn") === "SN99")
      .head().getAs[Double]("total_amount") == 99.5)
  }

  test("retry budget exhausts into ExtractionException; runaway cursor chain is capped") {
    val landing = Files.createTempDirectory("paged-landing2").toString + "/raw"
    // page 2 fails EVERY attempt: the extraction must fail loudly
    val alwaysFail: Option[String] => Page = { cursor =>
      val p = cursor.map(_.toInt).getOrElse(0)
      if (p == 2) throw new java.io.IOException("hard down")
      Page(Seq(orderLine(p)), Some((p + 1).toString))
    }
    intercept[PagedRestSource.ExtractionException] {
      PagedRestSource.fetchToLanding(spark, alwaysFail, landing, maxRetries = 3)
    }
    // a pager whose cursor never terminates hits the maxPages guard
    val loop: Option[String] => Page =
      _ => Page(Seq(orderLine(1)), Some("again"))
    intercept[PagedRestSource.ExtractionException] {
      PagedRestSource.fetchToLanding(spark, loop, landing, maxPages = 50)
    }
  }

  test("all-empty-pages extraction lands a readable zero-row table") {
    val landing = Files.createTempDirectory("paged-landing4").toString + "/raw"
    val empty: Option[String] => Page = { cursor =>
      val p = cursor.map(_.toInt).getOrElse(0)
      Page(Seq.empty, if (p < 2) Some((p + 1).toString) else None)
    }
    val (pages, rows) = PagedRestSource.fetchToLanding(spark, empty, landing)
    assert(pages == 3L && rows == 0L)
    assert(PagedRestSource.readLanding(spark, landing).count() == 0L)
  }

  test("re-extraction overwrites the landing zone (per-batch scratch)") {
    val landing = Files.createTempDirectory("paged-landing3").toString + "/raw"
    PagedRestSource.fetchToLanding(spark, pager(), landing)
    PagedRestSource.fetchToLanding(spark, pager(), landing)
    assert(PagedRestSource.readLanding(spark, landing).count() == 100L,
      "second extraction must replace, not double, the landing zone")
  }

  test("landing runs no Spark job, and reads like a Spark-written landing zone") {
    val root = Files.createTempDirectory("paged-landing5").toString
    val empty: Option[String] => Page = { cursor =>
      val p = cursor.map(_.toInt).getOrElse(0)
      Page(Seq.empty, if (p < 2) Some((p + 1).toString) else None)
    }
    assert(jobsOf {
      PagedRestSource.fetchToLanding(spark, pager(), s"$root/raw", flushEvery = 7)
      PagedRestSource.fetchToLanding(spark, empty, s"$root/empty")
    } == 0)
    // four flushes of at most 7 pages, then the zero-row file
    def parts(d: String) = new java.io.File(d).list().toSeq
      .filter(n => n.startsWith("part-") && n.endsWith(".parquet"))
    assert(parts(s"$root/raw").length == 4 && parts(s"$root/empty").length == 1)
    // the same rows and schema as Spark's own writer lands
    import spark.implicits._
    val sparkWritten = (0 until 25).flatMap(p =>
      (0 until 4).map(i => (p.toLong, orderLine(p * 4 + i))))
      .toDF("page_idx", "payload")
    sparkWritten.write.parquet(s"$root/spark")
    assert(ParquetMeta.footerSchema(spark, s"$root/raw") ==
      ParquetMeta.footerSchema(spark, s"$root/spark"))
    for (read <- Seq(PagedRestSource.readLanding(spark, _: String),
        spark.read.parquet(_: String))) {
      val landed = read(s"$root/raw")
      assert(landed.schema == read(s"$root/spark").schema)
      assert(landed.except(sparkWritten).isEmpty &&
        sparkWritten.except(landed).isEmpty && landed.count() == 100L)
      assert(read(s"$root/empty").schema == landed.schema)
    }
  }
}
