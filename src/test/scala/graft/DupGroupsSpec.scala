package graft

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField, StructType}

import graft.operators.DupGroups

/** Connected-components dup clustering: correctness vs a brute-force
  * union-find on every graph shape that breaks naive approaches
  * (chains, merged stars, cycles), determinism, and the distributed
  * discipline (no collect of members, converges in few rounds). */
class DupGroupsSpec extends SparkTestBase {
  import spark.implicits._

  private def bruteComponents(pairs: Seq[(Long, Long)]): Map[Long, Long] = {
    val parent = scala.collection.mutable.Map[Long, Long]()
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    pairs.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    // path-compress to the true minimum of each set
    val nodes = pairs.flatMap(p => Seq(p._1, p._2)).distinct
    val byRoot = nodes.groupBy(find)
    byRoot.flatMap { case (_, ns) => ns.map(_ -> ns.min) }
  }

  private def ccMap(pairs: Seq[(Long, Long)]): Map[Long, Long] =
    DupGroups.connectedComponents(pairs.toDF("a", "b"), "a", "b")
      .as[(Long, Long)].collect().toMap

  test("chains merge transitively (the shape groupBy cannot handle)") {
    // 1-2, 2-3, 3-4: no pair (1,4) exists, yet all are one cluster
    val got = ccMap(Seq((1L, 2L), (2L, 3L), (3L, 4L)))
    assert(got === Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L))
  }

  test("matches union-find truth on chains, cycles, merged stars, isolates") {
    val pairs = Seq(
      (10L, 11L), (11L, 12L), (12L, 10L),           // triangle
      (20L, 25L), (21L, 25L), (22L, 25L), (25L, 3L), // star bridged to 3
      (3L, 2L),                                      // ...chained lower
      (40L, 41L), (43L, 42L), (41L, 43L),            // two edges merged late
      (99L, 98L))                                    // plain pair
    assert(ccMap(pairs) === bruteComponents(pairs))
  }

  test("self-pairs and duplicate/reversed pairs are harmless") {
    val got = ccMap(Seq((5L, 5L), (1L, 2L), (2L, 1L), (1L, 2L)))
    assert(got === Map(5L -> 5L, 1L -> 1L, 2L -> 1L))
  }

  test("empty pair set yields empty assignment") {
    val empty = Seq.empty[(Long, Long)].toDF("a", "b")
    assert(DupGroups.connectedComponents(empty, "a", "b").isEmpty)
  }

  test("random graphs match union-find truth") {
    val rnd = new scala.util.Random(7)
    for (trial <- 1 to 3) {
      val n = 60 + trial * 30
      val pairs = Seq.fill(n)((rnd.nextInt(40).toLong, rnd.nextInt(40).toLong))
        .filter(p => p._1 != p._2)
      assert(ccMap(pairs) === bruteComponents(pairs), s"trial $trial")
    }
  }

  test("assignClusters: every doc labeled; survivors = min per cluster") {
    val docs = Seq((1L, "a"), (2L, "b"), (3L, "c"), (4L, "d"), (9L, "i"))
      .toDF("doc_id", "text")
    val pairs = Seq((2L, 3L), (3L, 4L)).toDF("doc_a", "doc_b")
    val got = DupGroups.assignClusters(docs, "doc_id", pairs, "doc_a", "doc_b")
      .select("doc_id", "cluster", "is_keep")
      .as[(Long, Long, Boolean)].collect().sortBy(_._1)
    assert(got.toSeq === Seq(
      (1L, 1L, true), (2L, 2L, true), (3L, 2L, false), (4L, 2L, false),
      (9L, 9L, true)))
    // filter(is_keep) IS the dedup: one survivor per cluster + isolates
    assert(got.count(_._3) === 3)
  }

  test("updateClusters: incremental batch equals full rebuild") {
    val g1 = Seq((1L, 2L), (2L, 3L), (10L, 11L), (20L, 21L))
    val prior = DupGroups.connectedComponents(g1.toDF("a", "b"), "a", "b")
    // batch merges {1,2,3}∪{10,11}, adds a brand-new pair, links a new
    // node 0 (smaller than every prior id) into {20,21}
    val batch = Seq((3L, 10L), (40L, 41L), (0L, 21L))
    val inc = DupGroups.updateClusters(prior, batch.toDF("a", "b"), "a", "b")
      .as[(Long, Long)].collect().toMap
    val full = DupGroups.connectedComponents((g1 ++ batch).toDF("a", "b"),
      "a", "b").as[(Long, Long)].collect().toMap
    assert(inc === full)
    assert(inc(10L) === 1L) // merged across the old component boundary
    assert(inc(20L) === 0L) // new smaller node renamed the component
    assert(inc(40L) === 40L)
  }

  test("updateClusters: random graphs fed in two batches equal one-shot CC") {
    val rnd = new scala.util.Random(11)
    val all = Seq.fill(120)((rnd.nextInt(50).toLong, rnd.nextInt(50).toLong))
      .filter(p => p._1 != p._2)
    val (b1, b2) = all.splitAt(70)
    val prior = DupGroups.connectedComponents(b1.toDF("a", "b"), "a", "b")
    val inc = DupGroups.updateClusters(prior, b2.toDF("a", "b"), "a", "b")
      .as[(Long, Long)].collect().toMap
    assert(inc === bruteComponents(all))
  }

  test("updateClusters is idempotent under batch replay") {
    // at-least-once delivery replays a batch: folding the same pairs
    // into an already-updated assignment must change nothing — the
    // property the watermark-cycle composition (EtlControl) relies on
    val g1 = Seq((1L, 2L), (10L, 11L), (20L, 21L))
    val batch = Seq((2L, 10L), (30L, 31L))
    val prior = DupGroups.connectedComponents(g1.toDF("a", "b"), "a", "b")
    val once = DupGroups.updateClusters(prior, batch.toDF("a", "b"), "a", "b")
      .localCheckpoint(true)
    val twice = DupGroups.updateClusters(once, batch.toDF("a", "b"), "a", "b")
      .as[(Long, Long)].collect().toMap
    assert(twice === once.as[(Long, Long)].collect().toMap)
  }

  test("worst-case diameter: a 2000-node path converges within maxIter") {
    // a path is the adversarial shape for label propagation (diameter
    // n−1, where plain min-propagation needs n rounds); alternating
    // star contraction must close it in O(log² n) — the require()
    // inside connectedComponents fails this test if it does not
    val pairs = (1L until 2000L).map(i => (i, i + 1))
    val out = ccMap(pairs)
    assert(out.size === 2000 && out.values.forall(_ == 1L))
  }

  test("no per-component row materialization: output stays (node, comp) rows") {
    // a 200-member component must come back as 200 rows, never an array
    val pairs = (1L until 200L).map(i => (i, i + 1))
    val out = DupGroups.connectedComponents(pairs.toDF("a", "b"), "a", "b")
    assert(out.schema.fields.forall(!_.dataType.typeName.contains("array")))
    val rows = out.as[(Long, Long)].collect()
    assert(rows.length === 200 && rows.forall(_._2 == 1L))
  }

  test("hot star: one center with 100k leaves matches union-find truth") {
    // the center's neighbor stream is one 100k-row key in the star
    // passes; leaves sit on both sides of it, so the component is
    // re-centered on leaf 1
    val center = 50000L
    val pairs = (1L to 100001L).filter(_ != center).zipWithIndex.map {
      case (leaf, i) => if (i % 2 == 0) (center, leaf) else (leaf, center)
    }
    val got = ccMap(pairs)
    assert(got.size === 100001)
    assert(got === bruteComponents(pairs))
  }

  private val pairSchema = StructType(Seq(
    StructField("a", LongType), StructField("b", LongType)))
  private def nullablePairs(rows: (java.lang.Long, java.lang.Long)*) =
    spark.createDataFrame(spark.sparkContext.parallelize(
      rows.map { case (a, b) => Row(a, b) }, 2), pairSchema)
  private val fiveDocs = Seq(1L, 2L, 3L, 4L, 5L).toDF("doc_id")
  private def clusters(pairs: org.apache.spark.sql.DataFrame) =
    DupGroups.assignClusters(fiveDocs, "doc_id", pairs, "a", "b")
      .as[(Long, Long, Boolean)].collect().sortBy(_._1).toSeq

  test("null ids: no null node, partners stay nodes, replay stays idempotent") {
    val pairs = nullablePairs((1L, null), (null, 2L), (3L, 4L), (null, null))
    val cc = DupGroups.connectedComponents(pairs, "a", "b")
    val rows = cc.collect().map(r => (Option(r.get(0)), Option(r.get(1))))
    assert(rows.forall { case (n, c) => n.isDefined && c.isDefined })
    assert(cc.as[(Long, Long)].collect().toMap ===
      Map(1L -> 1L, 2L -> 2L, 3L -> 3L, 4L -> 3L))
    val once = DupGroups.updateClusters(cc, pairs, "a", "b").localCheckpoint(true)
    val twice = DupGroups.updateClusters(once, pairs, "a", "b")
    assert(twice.count() === 4 && once.count() === 4)
    assert(clusters(pairs) === Seq((1L, 1L, true), (2L, 2L, true),
      (3L, 3L, true), (4L, 3L, false), (5L, 5L, true)))
  }

  test("self-loop-only pairs: every node is its own component") {
    val pairs = Seq((5L, 5L), (2L, 2L)).toDF("a", "b")
    assert(DupGroups.connectedComponents(pairs, "a", "b")
      .as[(Long, Long)].collect().toMap === Map(5L -> 5L, 2L -> 2L))
    assert(clusters(pairs) === (1L to 5L).map(i => (i, i, true)))
  }

  test("a pairs frame with zero partitions yields no components") {
    val zero = spark.createDataFrame(spark.sparkContext.emptyRDD[Row], pairSchema)
    assert(zero.rdd.getNumPartitions === 0)
    assert(DupGroups.connectedComponents(zero, "a", "b").isEmpty)
    assert(clusters(zero) === (1L to 5L).map(i => (i, i, true)))
  }

  test("a repeated assignClusters call compiles no new code") {
    def run(offset: Long): Unit = {
      val docs = (1L to 6L).map(_ + offset).toDF("doc_id")
      val pairs = Seq((2L, 3L), (3L, 4L), (5L, 6L))
        .map { case (a, b) => (a + offset, b + offset) }.toDF("a", "b")
      DupGroups.assignClusters(docs, "doc_id", pairs, "a", "b").collect()
    }
    run(0L)
    val before = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    run(100L)
    assert(CodegenMetrics.METRIC_COMPILATION_TIME.getCount - before === 0)
  }

  test("a graph that converges in one step costs at most 3 jobs") {
    val sc = spark.sparkContext
    val groups = new java.util.concurrent.ConcurrentLinkedQueue[String]
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        groups.add(Option(e.properties)
          .flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).getOrElse(""))
    }
    def inGroup[T](g: String)(f: => T): T = {
      sc.setJobGroup(g, g)
      try f finally sc.clearJobGroup()
    }
    val docs = (1L to 12L).toDF("doc_id")
    val pairs = Seq((2L, 3L), (3L, 4L), (2L, 4L), (10L, 11L)).toDF("a", "b")
    sc.addSparkListener(listener)
    try {
      inGroup("dupgroups-cc")(DupGroups.assignClusters(docs, "doc_id", pairs, "a", "b"))
      // listener events arrive in order: once the marker job is seen,
      // every job before it has been
      inGroup("dupgroups-marker")(sc.parallelize(Seq(1), 1).count())
      val deadline = System.nanoTime() + 30000000000L
      while (!groups.contains("dupgroups-marker") && System.nanoTime() < deadline)
        Thread.sleep(10)
      assert(groups.contains("dupgroups-marker"))
    } finally sc.removeSparkListener(listener)
    val ccJobs = groups.toArray.count(_ == "dupgroups-cc")
    assert(ccJobs >= 1 && ccJobs <= 3, s"$ccJobs jobs")
  }
}
