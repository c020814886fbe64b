package perfbench

import java.util.SplittableRandom

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.operators.{EtlControl, Pipeline, Validate}
import graft.sources.{JsonOrderSource, PagedRestSource, PipelineConfig, TokenAuth}

/** One order version as the paged API serves it. Amounts are in cents;
  * times are epoch seconds. */
final case class OrderV(sn: String, status: String, amountCents: Long,
    cod: Boolean, create: Long, update: Long,
    items: Vector[(Long, Long, Long)]) { // (item_id, quantity, price cents)

  def amount: String = f"${amountCents / 100}%d.${amountCents % 100}%02d"

  def json: String = {
    val sb = new StringBuilder
    sb.append("{\"order_sn\":\"").append(sn).append("\",\"order_status\":\"")
      .append(status).append("\",\"total_amount\":\"").append(amount)
      .append("\",\"cod\":\"").append(cod).append("\",\"create_time\":")
      .append(create).append(",\"update_time\":").append(update)
      .append(",\"recipient_address\":{\"name\":\"Buyer ").append(sn.hashCode & 0xffff)
      .append("\",\"city\":\"City ").append(create % 64).append("\",\"zipcode\":\"")
      .append(10000 + create % 89999).append("\"},\"item_list\":[")
    items.zipWithIndex.foreach { case ((id, q, p), k) =>
      if (k > 0) sb.append(',')
      sb.append("{\"order_item_id\":").append(k + 1).append(",\"item_id\":").append(id)
        .append(",\"item_name\":\"item ").append(id).append("\",\"model_quantity_purchased\":\"")
        .append(q).append("\",\"model_original_price\":\"")
        .append(f"${p / 100}%d.${p % 100}%02d").append("\",\"product_location_id\":[\"L")
        .append(id % 7).append("\"]}")
    }
    sb.append("],\"package_list\":[{\"package_number\":\"P").append(sn)
      .append("\",\"logistics_status\":\"LOGISTICS_READY\",\"item_list\":[")
    items.indices.foreach { k =>
      if (k > 0) sb.append(',')
      sb.append("{\"order_item_id\":").append(k + 1).append(",\"model_quantity\":\"")
        .append(items(k)._2).append("\"}")
    }
    sb.append("]}]}")
    sb.toString
  }

  /** The typed row the pipeline's transform must produce for this
    * version (the target schema, in order). */
  def row: Row = Row(sn, status, amount.toDouble, cod,
    new java.sql.Timestamp(create * 1000L), new java.sql.Timestamp(update * 1000L))
}

/** One source's seeded order feed. It keeps the generator's own
  * keep-last state: the latest version delivered for every key. */
final class OrderFeed(seed: Long, source: String) {
  import OrderFeed._
  private val rng = new SplittableRandom(seed * 1000003L + source.hashCode)
  private val tag = java.lang.Long.toHexString(
    new SplittableRandom(seed).nextLong() & 0xffffffffL)
  val live = mutable.LinkedHashMap.empty[String, OrderV]
  private val keys = mutable.ArrayBuffer.empty[String]
  private var nextId = 0L
  /** The last window's row with the highest update time. */
  private var boundary: OrderV = _
  var maxTs = 0L

  private def newOrder(ts: Long): OrderV = {
    val id = nextId
    nextId += 1
    // sizes are fixed by position; contents come from the seed
    val items = Vector.tabulate(1 + (id % 4).toInt)(_ =>
      (rng.nextLong(200000L), 1L + rng.nextLong(5L), 100L + rng.nextLong(50000L)))
    OrderV(s"$source-$tag-$id", "UNPAID", items.map(i => i._2 * i._3).sum,
      rng.nextBoolean(), ts, ts, items)
  }

  private def deliver(vs: Seq[OrderV]): Vector[String] = {
    vs.foreach { v =>
      if (!live.contains(v.sn)) keys += v.sn
      live(v.sn) = v
    }
    boundary = vs.maxBy(_.update)
    maxTs = math.max(maxTs, boundary.update)
    vs.map(_.json).toVector
  }

  /** The initial snapshot: `n` orders updated during the day before T0. */
  def bootstrap(n: Int): Vector[String] =
    deliver((0 until n).map(_ => newOrder(T0 - 86400L + rng.nextLong(86400L))))

  /** Window `c` (a 15-minute schedule slot): new orders, seeded updates
    * to existing keys, and the replayed watermark-boundary row. */
  def window(c: Int, fresh: Int, updates: Int): Vector[String] = {
    val start = T0 + c * 900L
    val replay = boundary
    val news = (0 until fresh).map(_ => newOrder(start + 1 + rng.nextLong(898L)))
    val picked = mutable.LinkedHashSet.empty[String]
    while (picked.size < updates) {
      val k = keys(rng.nextInt(keys.length))
      if (k != replay.sn) picked += k
    }
    val ups = picked.toSeq.map { k =>
      val o = live(k)
      o.copy(status = Statuses((Statuses.indexOf(o.status) + 1) % Statuses.length),
        amountCents = o.amountCents + rng.nextLong(1000L),
        update = start + 1 + rng.nextLong(898L))
    }
    val rows = deliver(news ++ ups)
    // the boundary row goes out again unchanged: a MERGE no-op
    replay.json +: rows
  }
}

object OrderFeed {
  val T0 = 1704067200L // 2024-01-01T00:00:00Z
  val Statuses = Seq("UNPAID", "READY_TO_SHIP", "PROCESSED", "SHIPPED", "COMPLETED")
}

/** Repeated `Pipeline.runIncremental` cycles over the three configured
  * sources, fed by an in-process paged API (see README). */
final class EtlWorkload(spark: SparkSession, seed: Long, tracer: Tracer)
    extends Workload {
  val opSeconds = 3.5
  val name = "etl_incremental"
  val Bootstrap = 1000
  val Fresh = 1800
  val Updates = 599

  private var dir: String = _
  private var cfg: PipelineConfig.Resolved = _
  private var feeds: Map[String, OrderFeed] = Map.empty
  private var runners: Map[String, Pipeline.SourceRunner] = Map.empty
  private val current = mutable.Map.empty[String, Vector[String]]
  private val batches = mutable.ArrayBuffer.empty[String]
  private var cycle = 0
  private var fetchCalls = 0L
  private var fetchNs = 0L
  /** Control-log files and cycles right after set-up. */
  private var controlFiles0 = 0L
  private var cycles0 = 0

  val targetSchema: StructType = StructType(Seq(
    StructField("order_sn", StringType), StructField("order_status", StringType),
    StructField("total_amount", DoubleType), StructField("cod", BooleanType),
    StructField("create_time", TimestampType), StructField("update_time", TimestampType)))

  private def env(dir: String): Map[String, String] = Map(
    "GRAFT_CONTROL_DIR" -> s"$dir/control",
    "SHOP_APP_KEY" -> "k", "SHOP_APP_SECRET" -> "s",
    "CRM_CLIENT_ID" -> "k", "CRM_CLIENT_SECRET" -> "s",
    "MARKETPLACE_PARTNER_ID" -> "k", "MARKETPLACE_PARTNER_KEY" -> "s",
    "ETL_PAGE_SIZE" -> "100", "CRM_PAGE_SIZE" -> "100",
    // crm's production default caps a cycle at 2 pages
    "CRM_MAX_PAGES_PER_CYCLE" -> "1000")

  /** Landing → the typed `orders` table of the normalized ERD. */
  private def transform(landing: DataFrame): DataFrame =
    tracer.span("sources.normalize") {
      JsonOrderSource.normalize(landing.select(
        from_json(col("payload"), JsonOrderSource.orderSchema).as("o")).select("o.*"))("orders")
    }

  private def runner(src: PipelineConfig.SourceConfig): Pipeline.SourceRunner = {
    val provider = src.credentialProvider(
      _ => TokenAuth.Token(s"${src.id}-token", "refresh", Long.MaxValue / 4),
      () => 0L)
    val fetch = (cursor: Option[String], _: TokenAuth.Token) =>
      tracer.span("sources.fetch") {
        val t = System.nanoTime()
        val rows = current(src.id)
        val p = cursor.fold(0)(_.toInt)
        val pages = (rows.length + src.pageSize - 1) / src.pageSize
        val page = PagedRestSource.Page(
          rows.slice(p * src.pageSize, (p + 1) * src.pageSize),
          if (p + 1 < pages) Some((p + 1).toString) else None)
        if (tracer.enabled) {
          fetchCalls += 1
          fetchNs += System.nanoTime() - t
        }
        page
      }
    Pipeline.SourceRunner(fetch, provider, transform, tsCol = "update_time",
      keys = Seq("order_sn"), expectations = Seq(
        Validate.NotNull("order_sn"), Validate.Unique("order_sn"),
        Validate.InRange("total_amount", min = Some(0.0), max = None),
        Validate.InSet("order_status", OrderFeed.Statuses)))
  }


  def setup(d: String): Unit = {
    dir = d
    cfg = PipelineConfig.fromEnv(env(d).get)
    feeds = cfg.sources.map(s => s.id -> new OrderFeed(seed, s.id)).toMap
    runners = cfg.sources.map(s => s.id -> runner(s)).toMap
    batches.clear()
    cycle = 0
    feeds.foreach { case (id, f) => current(id) = f.bootstrap(Bootstrap) }
    // the reference's full-load stage order: shop >> [crm, marketplace]
    val res = Pipeline.runFullLoad(spark, cfg, runners, dir, "bootstrap",
      stages = Seq(Seq("shop_stream"), Seq("crm", "marketplace")))
    require(res.forall(_.loadedRows == Bootstrap), s"bootstrap loaded $res")
    controlFiles0 = controlFiles()
    cycles0 = cycle
  }

  def warmup(): Unit = { prepare(-1); op(-1) }

  override def prepare(i: Int): Unit =
    feeds.foreach { case (id, f) => current(id) = f.window(cycle, Fresh, Updates) }

  def op(i: Int): Long = {
    val batch = s"cycle$cycle"
    cycle += 1
    val res = tracer.span("etl.runIncremental") {
      Pipeline.runIncremental(spark, cfg, runners, dir, batch)
    }
    batches += batch
    val delivered = current.values.map(_.length.toLong).sum
    require(res.length == 3 && res.forall(r =>
      r.landedRows == current(r.sourceId).length &&
        r.watermarkUs == feeds(r.sourceId).maxTs * 1000000L),
      s"$batch: unexpected cycle results $res")
    delivered
  }

  private def controlFiles(): Long =
    Seq("control", "durations", "failures").map { d =>
      def walk(f: java.io.File): Long =
        if (f.isDirectory) Option(f.listFiles).map(_.map(walk).sum).getOrElse(0L)
        else if (f.getName.endsWith(".parquet")) 1L else 0L
      walk(new java.io.File(s"$dir/$d"))
    }.sum

  /** Row count and an order-independent hash of every row. */
  private def fingerprint(df: DataFrame): (Long, java.math.BigDecimal) = {
    val r = df.select(targetSchema.fieldNames.map(col).toSeq: _*)
      .agg(count(lit(1)), sum(xxhash64(targetSchema.fieldNames.map(col).toSeq: _*)
        .cast("decimal(38,0)"))).head()
    (r.getLong(0), r.getDecimal(1))
  }

  def check(): Seq[Check] = {
    val targets = feeds.toSeq.sortBy(_._1).map { case (id, f) =>
      val truth = spark.createDataFrame(
        java.util.Arrays.asList(f.live.values.map(_.row).toSeq: _*), targetSchema)
      val got = fingerprint(spark.read.parquet(s"$dir/target/$id"))
      val want = fingerprint(truth)
      Check(s"target.$id", got == want, s"rows/hash got $got want $want")
    }
    val log = spark.read.parquet(cfg.controlDir)
      .where(col("status") === "SUCCESS")
      .groupBy("source_id", "batch_id").count().collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    val commits = feeds.keys.toSeq.sorted.map { id =>
      val bad = batches.filter(b => log.getOrElse((id, b), 0L) != 1L)
      Check(s"commits.$id", bad.isEmpty,
        s"${batches.length} cycles; without exactly one SUCCESS commit: ${bad.mkString(",")}")
    }
    val marks = feeds.toSeq.sortBy(_._1).map { case (id, f) =>
      val wm = EtlControl.lastWatermarkMicros(spark, cfg.controlDir, id, -1L)
      Check(s"watermark.$id", wm == f.maxTs * 1000000L,
        s"watermark $wm, max delivered ${f.maxTs * 1000000L}")
    }
    targets ++ commits ++ marks
  }

  def storedBytesPerRow(): Double = {
    val bytes = Seq("target", "control", "durations", "failures")
      .map(d => Main.dirBytes(s"$dir/$d")).sum
    bytes.toDouble / feeds.values.map(_.live.size).sum
  }

  override def layerExtras(ops: Seq[Main.OpRec]): Map[String, Double] = {
    val n = ops.length.toDouble
    Map("sources.fetch_calls" -> fetchCalls / n,
      "sources.fetch_s" -> fetchNs / 1e9 / n,
      "etl.control_files" -> (controlFiles() - controlFiles0).toDouble / (cycle - cycles0))
  }
}
