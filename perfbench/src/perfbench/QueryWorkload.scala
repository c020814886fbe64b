package perfbench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.SparkEntry
import graft.operators.CacheRegistry

/** Seeded star-schema tables in the TESTDATA.md schema. Sizes are fixed;
  * the seed moves keys and values. Every column is a hash of (seed,
  * column, row), so a table is built by parallel Spark jobs. */
object TableGen {
  val Orders = 25000L
  val LinesPerOrder = 4
  val Customers = 2500L
  val Parts = 4000L
  val Events = 30000L
  val Users = 1500L

  def rowCounts: Map[String, Long] = Map("region" -> 5L, "nation" -> 25L,
    "customer" -> Customers, "part" -> Parts, "orders" -> Orders,
    "lineitem" -> Orders * LinesPerOrder, "events" -> Events)

  def write(spark: SparkSession, seed: Long, dir: String): Unit = {
    import spark.implicits._
    def u(salt: String, m: Long, keys: Column*): Column =
      pmod(xxhash64((lit(seed) +: lit(salt) +: keys): _*), lit(m))
    def pick(salt: String, xs: Seq[String], keys: Column*): Column =
      element_at(array(xs.map(lit): _*), (u(salt, xs.length, keys: _*) + 1).cast("int"))
    def cents(salt: String, lo: Long, span: Long, keys: Column*): Column =
      ((u(salt, span, keys: _*) + lo).cast("double") / 100.0)
    def day(salt: String, keys: Column*): Column = // 1992-01-01 + up to ~7 years
      timestamp_seconds((u(salt, 2557, keys: _*) + 8035) * 86400)
    val id = col("id")
    def save(name: String, df: DataFrame): Unit =
      df.write.parquet(s"$dir/$name.parquet")

    save("region", Seq("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
      .zipWithIndex.map { case (n, i) => (i, n) }.toDF("r_regionkey", "r_name").coalesce(1))
    save("nation", spark.range(25).select(id.cast("int").as("n_nationkey"),
      concat(lit("NATION_"), id).as("n_name"),
      u("n_region", 5, id).cast("int").as("n_regionkey")).coalesce(1))
    save("customer", spark.range(Customers).select(id.as("c_custkey"),
      format_string("Customer#%09d", id).as("c_name"),
      u("c_nation", 25, id).cast("int").as("c_nationkey"),
      cents("c_bal", -99999, 1099999, id).as("c_acctbal"),
      pick("c_seg", Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"), id)
        .as("c_mktsegment")))
    val words = Seq("large", "hot", "ring", "bolt", "small", "steel", "brass", "cold")
    save("part", spark.range(Parts).select(id.as("p_partkey"),
      concat_ws(" ", pick("p_n1", words, id), pick("p_n2", words, id)).as("p_name"),
      concat(lit("Brand#"), u("p_brand", 25, id) + 1).as("p_brand"),
      pick("p_type", Seq("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"), id)
        .as("p_type"),
      (u("p_size", 50, id) + 1).cast("int").as("p_size"),
      cents("p_price", 90000, 110000, id).as("p_retailprice")))
    // order keys are id·4 + a seeded offset: unique, and the seed moves
    // which keys fall on q40's %211, q45's %13 and q65's %3
    val orders = spark.range(Orders).select(
      (id * 4 + u("o_key", 4, id)).as("o_orderkey"),
      u("o_cust", Customers, id).as("o_custkey"),
      pick("o_status", Seq("F", "O", "P"), id).as("o_orderstatus"),
      cents("o_price", 100000, 50000000, id).as("o_totalprice"),
      day("o_date", id).as("o_orderdate"),
      pick("o_prio", Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"), id)
        .as("o_orderpriority"))
    save("orders", orders)
    val ln = col("l_linenumber")
    val ok = col("l_orderkey")
    save("lineitem", spark.read.parquet(s"$dir/orders.parquet")
      .select(col("o_orderkey").as("l_orderkey"),
        explode(sequence(lit(1), lit(LinesPerOrder))).as("l_linenumber"))
      .select(ok, u("l_part", Parts, ok, ln).as("l_partkey"),
        u("l_supp", 1000, ok, ln).as("l_suppkey"), ln,
        (u("l_qty", 50, ok, ln) + 1).cast("double").as("l_quantity"),
        cents("l_price", 90000, 9900000, ok, ln).as("l_extendedprice"),
        (u("l_disc", 11, ok, ln).cast("double") / 100.0).as("l_discount"),
        (u("l_tax", 9, ok, ln).cast("double") / 100.0).as("l_tax"),
        pick("l_flag", Seq("A", "N", "R"), ok, ln).as("l_returnflag"),
        pick("l_status", Seq("F", "O"), ok, ln).as("l_linestatus"),
        day("l_ship", ok, ln).as("l_shipdate")))
    save("events", spark.range(Events).select(
      (id * 3 + u("e_key", 3, id)).as("event_id"),
      timestamp_micros(lit(1704067200000000L) + u("e_ts", 30L * 86400000000L, id)).as("ts"),
      u("e_user", Users, id).as("user_id"),
      pick("e_type", Seq("signup", "click", "error", "view", "purchase"), id).as("event_type"),
      cents("e_val", 0, 50000, id).as("value"),
      concat(lit("{\"k\": "), u("e_k", 100, id), lit("}")).as("props")))
  }
}

/** A seeded order over a fixed mix of registered queries, read-only,
  * each materialized through the noop sink. */
final class QueryWorkload(spark: SparkSession, seed: Long, tracer: Tracer)
    extends Workload {
  val opSeconds = 0.7
  import QueryWorkload._
  val name = "staging_queries"
  private var dir: String = _

  def setup(d: String): Unit = {
    dir = d
    TableGen.write(spark, seed, d)
  }

  /** One round that writes each query's result and oracle SQL: it warms
    * the mix up and leaves the outputs the launcher compares with DuckDB
    * after this process ends (the timed ops feed the noop sink). */
  def warmup(): Unit = Mix.foreach { q =>
    CacheRegistry.releaseAll()
    SparkEntry.queries(q)(spark, dir).write.mode("overwrite").parquet(s"$dir/results/$q")
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$dir/results/$q.sql"),
      SparkEntry.oracleSql(q).getBytes("UTF-8"))
  }

  override def roundSize: Int = Mix.length
  /** Round r runs the mix in a seeded order. */
  override def opName(i: Int): String = {
    val r = math.floorDiv(i, Mix.length)
    val order = new scala.util.Random(seed * 7919L + r).shuffle(Mix)
    order(math.floorMod(i, Mix.length))
  }

  private def run(q: String): Unit = {
    CacheRegistry.releaseAll()
    SparkEntry.queries(q)(spark, dir).write.mode("overwrite").format("noop").save()
  }

  def op(i: Int): Long = {
    val q = opName(i)
    tracer.span(s"queries.$q")(run(q))
    Inputs(q).map(TableGen.rowCounts).sum
  }

  /** The row-set comparison with DuckDB runs in the launcher. */
  def check(): Seq[Check] = Nil

  def storedBytesPerRow(): Double =
    TableGen.rowCounts.keys.toSeq.map(t => Main.dirBytes(s"$dir/$t.parquet")).sum.toDouble /
      TableGen.rowCounts.values.sum
}

object QueryWorkload {
  /** ScaleBench.joinHeavy plus q40_fk_integrity. */
  val Mix: Seq[String] = Seq("q10_star_join", "q40_fk_integrity", "q44_scd2_history",
    "q45_bloom_delete_insert", "q48_point_in_time", "q53_range_join", "q65_salted_join")

  /** The tables each query reads: its input rows. */
  val Inputs: Map[String, Seq[String]] = Map(
    "q10_star_join" -> Seq("lineitem", "orders", "customer", "nation", "region"),
    "q40_fk_integrity" -> Seq("lineitem", "orders"),
    "q44_scd2_history" -> Seq("events"),
    "q45_bloom_delete_insert" -> Seq("lineitem"),
    "q48_point_in_time" -> Seq("events"),
    "q53_range_join" -> Seq("events"),
    "q65_salted_join" -> Seq("lineitem", "part"))
}
