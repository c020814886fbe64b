package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.{CacheRegistry, Sweep}

/** Sweep-line fixed-window attribution: bit-equivalence with the naive
  * non-equi join + aggregate, null semantics (users, values,
  * timestamps, starts), same-timestamp ties, and bucket-boundary
  * robustness. */
class SweepSpec extends SparkTestBase {
  import spark.implicits._

  // (ts, user, value) — includes a null user, a null value, same-user
  // same-ts ties, and a user spanning many windows
  private lazy val ev: DataFrame = Seq(
    (100L, Option(1L), Option(5.0)),
    (100L, Option(1L), Option(2.0)),   // same user, same ts tie
    (110L, Option(2L), Option(1.5)),
    (150L, Option(1L), None),          // null value still counts in n_events
    (160L, None, Option(9.0)),         // null user: events/value only
    (400L, Option(3L), Option(4.0)),
    (410L, Option(2L), Option(0.25)),
    (1000L, Option(9L), None)          // isolated window, all-null values
  ).toDF("ts", "u", "v")

  private lazy val inc: DataFrame = Seq(
    (1L, 100L), (2L, 150L), (3L, 395L), (4L, 1000L), (5L, 90L)
  ).toDF("iid", "s")

  private def naive(events: DataFrame, incidents: DataFrame,
      w: Long): Map[Long, (Long, Long, Option[Double])] =
    incidents.join(events,
        col("ts") >= col("s") && col("ts") < col("s") + w, "left")
      .groupBy("iid")
      .agg(count(col("ts")).as("n"), count_distinct(col("u")).as("nu"),
        sum(col("v").cast("decimal(18,2)")).cast("double").as("tv"))
      .collect()
      .map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2),
          if (r.isNullAt(3)) None else Some(r.getDouble(3))))).toMap

  private def sweep(events: DataFrame, incidents: DataFrame, w: Long,
      buckets: Int = 4): Map[Long, (Long, Long, Option[Double])] =
    try Sweep.fixedWindowStats(events, "ts", "u", "v", incidents,
        "iid", "s", w, buckets)
      .select(col("iid"), col("n_events"), col("n_users"),
        col("total_value").cast("double"))
      .collect()
      .map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2),
          if (r.isNullAt(3)) None else Some(r.getDouble(3))))).toMap
    finally CacheRegistry.releaseAll()

  test("matches the naive window join on counts, distinct users, sums") {
    val w = 100L
    assert(sweep(ev, inc, w) == naive(ev, inc, w))
  }

  test("window with only null values sums to NULL, not 0.00") {
    val got = sweep(ev, inc, 100L)
    // incident 4 covers only the (1000, u9, null) event
    assert(got(4L) == ((1L, 1L, None)))
  }

  test("empty window yields zero counts (left-join oracle shape)") {
    val got = sweep(ev, Seq((9L, 5000L)).toDF("iid", "s"), 100L)
    assert(got(9L) == ((0L, 0L, None)))
  }

  test("same-user same-ts ties count the user once") {
    val got = sweep(ev, inc, 100L)
    assert(got(1L)._1 == 5L && got(1L)._2 == 2L) // u1 ×3, u2, null-user
  }

  test("bucket counts coarser and finer than the data stay exact") {
    val w = 100L
    val want = naive(ev, inc, w)
    for (b <- Seq(1, 2, 7, 64, 4096))
      assert(sweep(ev, inc, w, b) == want, s"mismatch at buckets=$b")
  }

  test("null timestamps and null starts drop like the non-equi join") {
    val e2 = ev.union(Seq((Option.empty[Long], Option(7L), Option(1.0)))
      .toDF("ts", "u", "v"))
    val i2 = inc.union(Seq((Option(8L), Option.empty[Long])).toDF("iid", "s"))
    val got = sweep(e2, i2, 100L)
    assert(!got.contains(8L)) // null-start incident produces no row
    assert(got == naive(ev, inc, 100L)) // null-ts event changes nothing
  }

  test("no events at all: every incident is an empty window") {
    val got = sweep(ev.where(lit(false)), inc, 100L)
    assert(got.keySet == Set(1L, 2L, 3L, 4L, 5L))
    assert(got.values.forall(_ == ((0L, 0L, None))))
  }

  test("randomized corpus equals the naive join across window lengths") {
    val rnd = new scala.util.Random(7)
    val evR = Seq.fill(500)((rnd.nextInt(2000).toLong,
      if (rnd.nextInt(10) == 0) Option.empty[Long] else Option(rnd.nextInt(20).toLong),
      if (rnd.nextInt(10) == 0) Option.empty[Double] else Option(rnd.nextInt(100) / 4.0)))
      .toDF("ts", "u", "v").repartition(5)
    val incR = Seq.tabulate(60)(i => (i.toLong, rnd.nextInt(2100).toLong))
      .toDF("iid", "s")
    for (w <- Seq(1L, 17L, 250L, 5000L))
      assert(sweep(evR, incR, w, 8) == naive(evR, incR, w), s"w=$w")
  }

  test("q91 sweep form ≡ q53 range-join form row-for-row at sf0.001 and sf0.01") {
    import graft.queries.AnalyticsQueries.{q53RangeJoin, q91SweepPortable}
    // column names lead the rows, so a renamed column also fails
    def rows(df: DataFrame): Seq[Seq[Any]] =
      try df.columns.toSeq +: df.orderBy(df.columns.map(col).toIndexedSeq: _*)
        .collect().map(_.toSeq).toSeq
      finally CacheRegistry.releaseAll()
    for (dir <- Seq(sf0001, sf001)) {
      val join = rows(q53RangeJoin(spark, dir))
      val sweep = rows(q91SweepPortable(spark, dir))
      assert(join.size > 1, s"no incidents at $dir")
      assert(sweep == join, s"sweep vs join drift at $dir: " +
        s"${sweep.diff(join).take(3)} vs ${join.diff(sweep).take(3)}")
    }
  }
}
