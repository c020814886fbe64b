package graft.operators

import scala.collection.mutable

import org.apache.spark.HashPartitioner
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, LongPairCheckpoint}
import org.apache.spark.sql.catalyst.expressions.XXH64
import org.apache.spark.sql.functions._

/** Duplicate-group clustering: near-dup PAIRS → connected components →
  * one canonical survivor per component.
  *
  * Near-duplicate relations are not transitive (A≈B and B≈C do not
  * imply A≈C), so pair lists from [[MinHashLSH]]/[[SimHash]]/
  * [[TextDedup]]/[[Ann.cosineNearDupPairs]] are a GRAPH, and "keep one
  * copy per duplicate cluster" — the step every training-corpus dedup
  * ends with — is connected components over that graph. The reference
  * pipeline's dedup is per-key `drop_duplicates`
  * (shopee_orders_loader.py:283-340), which only handles equality;
  * this operator is its transitive-closure generalization.
  *
  * Algorithm: alternating large-star / small-star (Kiveris et al.,
  * "Connected Components in MapReduce and Beyond", SoCC 2014) — the
  * published shuffle-native CC algorithm. Each round is two passes
  * over the edge list, each a shuffle by node plus a per-node minimum;
  * the edge set converges to disjoint stars centered on each
  * component's minimum id in O(log² n) rounds (2–4 in practice on
  * dedup graphs, whose components are near-cliques with tiny
  * diameter). Nothing ever collects to the driver except the per-step
  * convergence signatures (2 longs per partition and round); no
  * component is ever materialized as one row (a 10⁷-member boilerplate
  * cluster stays distributed), unlike connected components via
  * `collect_set`/GraphX-style message passing with array state.
  *
  * The iteration runs below Catalyst, on `RDD[(Long, Long)]` shuffles
  * (Spark picks its Kryo path for primitive keys and values), so it
  * generates no code. Its Catalyst form compiled about 46 classes per
  * call, enough to push a corpus pass past Spark's codegen cache (100
  * entries in 4 LRU segments of 25) so that most of the pass
  * recompiled on every call. Each step — two star rounds — is one
  * Spark job: four shuffle stages (five on the first step) and a
  * result stage that returns both rounds' signatures. The result is
  * written by one more job, so a graph that converges in one step
  * costs two jobs. Nothing is persisted — each step's shuffle files
  * carry it into the next — so no cache block outlives the call. The
  * result re-enters SQL reliably checkpointed, as a `LogicalRDD` with
  * its exact row count and size, so a small cluster map broadcasts
  * into the caller's join and a large one shuffles. The checkpoint
  * FILES live until the RDD is GC'd (with cleanCheckpoints on) or the
  * caller frees them via [[CacheRegistry.freeReliableCheckpoints]]
  * once the result is durable elsewhere — which the per-cycle
  * consumer ([[EtlControl.runDedupCycle]]) does.
  */
object DupGroups {

  /** Reliable-checkpoint target for iterative results: a lazily
    * created session-scoped local directory (cleared by OS tmp reaping;
    * on a real cluster point `spark.sparkContext.setCheckpointDir` at
    * durable storage before calling and this is a no-op). */
  private[operators] def ensureCheckpointDir(spark: org.apache.spark.sql.SparkSession): Unit =
    if (spark.sparkContext.getCheckpointDir.isEmpty) {
      spark.sparkContext.setCheckpointDir(
        java.nio.file.Files.createTempDirectory("graft-ckpt").toString)
    }

  /** (node, component) for every node incident to `pairs`, where
    * `component` is the minimum node id reachable through the pair
    * graph. Ids must be integral (long-castable). A null id is no node:
    * a pair with one null id only makes its other id a node (its own
    * component), and a pair of two nulls is ignored. */
  def connectedComponents(pairs: DataFrame, aCol: String, bCol: String,
      maxIter: Int = 50): DataFrame =
    componentsCore(pairs, aCol, bCol, maxIter, completeNodes = true)

  /** Iteration core. With `completeNodes` the result covers EVERY
    * incident node (component minima map to themselves) — the public
    * contract [[updateClusters]] depends on. Without it the result is
    * just the converged star set (minima and self-loop-only nodes
    * absent): exactly what [[assignClusters]] needs, since its left
    * join + coalesce defaults every unmapped doc to its own id — and
    * the checkpoint shrinks from node-count to star-edge-count rows. */
  private def componentsCore(pairs: DataFrame, aCol: String, bCol: String,
      maxIter: Int, completeNodes: Boolean): DataFrame = {
    val spark = pairs.sparkSession
    ensureCheckpointDir(spark)

    // A null endpoint is no node: a pair with one becomes a self-loop
    // on its other endpoint (a node, never an edge), and a pair of two
    // nulls is dropped.
    val input = pairs.select(col(aCol).cast("long"), col(bCol).cast("long"))
      .queryExecution.toRdd
    val edges0: RDD[(Long, Long)] = input.flatMap { r =>
      if (r.isNullAt(0)) {
        if (r.isNullAt(1)) None else Some((r.getLong(1), r.getLong(1)))
      } else if (r.isNullAt(1)) Some((r.getLong(0), r.getLong(0)))
      else Some((r.getLong(0), r.getLong(1)))
    }
    val part = new HashPartitioner(math.max(1, input.getNumPartitions))

    // Every pass shuffles its (key, neighbor) rows by key ONCE. The
    // per-key minimum is a reduceByKey over that same partitioning, so
    // it combines locally with no second shuffle, and the pass streams
    // the partition's rows against its min map: no key's neighbor list
    // is ever collected (a hot key is one long stream).
    def withMins(keyed: RDD[(Long, Long)])(
        emit: (Iterator[(Long, Long)], mutable.LongMap[Long]) => Iterator[(Long, Long)])
        : RDD[(Long, Long)] =
      keyed.zipPartitions(keyed.reduceByKey(part, math.min(_, _))) { (rows, mins) =>
        emit(rows, mutable.LongMap.from(mins))
      }
    // both orientations of every edge, keyed by the first
    def symmetric(e: RDD[(Long, Long)]): RDD[(Long, Long)] =
      e.flatMap { case (a, b) => Iterator((a, b), (b, a)) }.partitionBy(part)

    // large-star: every node links its LARGER neighbors to the minimum
    // of its closed neighborhood; small-star: every node links its
    // smaller neighbors (and itself) to that minimum. Both strictly
    // shrink the potential Σ depth; alternation converges to stars.
    // Outputs are (hi, lo) with hi > lo. Neither pass needs
    // deduplicated input (the min is duplicate-blind), and neither
    // emits more rows than it reads (large-star: one per undirected
    // edge; small-star: per key, one (hi, m) for the row whose lo is m
    // and one (lo, m) for each other row), so duplicates never compound.
    def largeStar(sym: RDD[(Long, Long)]): RDD[(Long, Long)] =
      withMins(sym) { (rows, mins) =>
        rows.collect { case (u, v) if v > u => (v, math.min(mins(u), u)) }
      }
    def smallStar(e: RDD[(Long, Long)]): RDD[(Long, Long)] =
      withMins(e.partitionBy(part)) { (rows, mins) =>
        mins.iterator ++ rows.flatMap { case (hi, lo) =>
          val m = mins(hi)
          if (lo != m) Iterator.single((lo, m)) else Iterator.empty
        }
      }

    // Order-independent set signature of one partition of a symmetric
    // edge set: count and xor of xxhash64(hi, lo) over its (hi > lo)
    // rows, which the caller deduplicates — collision-safe to ~2⁻⁶⁴
    // with the count. Signature equality = fixed point = star set
    // (both passes are monotone in the Kiveris potential and strictly
    // decrease it off stars, so no non-star cycles exist).
    def signature(rows: Iterator[(Long, Long)]): (Long, Long) = {
      var n, x = 0L
      rows.foreach { case (hi, lo) =>
        if (hi > lo) {
          n += 1
          x ^= XXH64.hashLong(lo, XXH64.hashLong(hi, 42L))
        }
      }
      (n, x)
    }

    // Each loop step runs two star rounds as ONE job: four shuffles
    // (the small-star key and the symmetric form of each round's
    // output; the first step also shuffles the input's symmetric form)
    // and a result stage that returns both rounds' signatures. Equal
    // signatures mean the inner round was already a fixed point, so
    // clique-ish graphs (the dedup norm) converge in one step. Steps to
    // convergence are O(log² n), 1–3 on real dedup graphs (near-clique
    // components). `distinct` is partition-local here, with no shuffle:
    // the rows are already partitioned by key, and equal rows share it.
    val sym0 = symmetric(edges0)
    var sym = sym0
    var converged = false
    var it = 0
    while (!converged && it < maxIter) {
      val inner = symmetric(smallStar(largeStar(sym)))
      val outer = symmetric(smallStar(largeStar(inner)))
      def merge(s: (Long, Long), t: (Long, Long)) = (s._1 + t._1, s._2 ^ t._2)
      val (innerSig, outerSig) = inner.distinct().zipPartitions(outer.distinct()) {
        (a, b) => Iterator.single((signature(a), signature(b)))
      }.collect().reduce((p, q) => (merge(p._1, q._1), merge(p._2, q._2)))
      converged = innerSig == outerSig
      sym = outer
      it += 2
    }
    require(converged, s"connectedComponents did not converge in $maxIter rounds")

    // converged edges are stars (hi = member, lo = component min),
    // partitioned by member; nodes absent from any star are their own
    // component. sym0 holds every non-null endpoint as a key under the
    // same partitioner, so node completion is a local min.
    val stars = sym.distinct().filter { case (hi, lo) => hi > lo }
    val result =
      if (completeNodes)
        stars.union(sym0.mapPartitions(_.map { case (n, _) => (n, n) },
            preservesPartitioning = true))
          .reduceByKey(part, math.min(_, _))
      else stars
    LongPairCheckpoint.checkpoint(spark, result, "node", "component")
  }

  /** Incremental cluster maintenance: fold a batch of NEW pairs into
    * an existing (node, component) assignment, recomputing ONLY the
    * components the batch touches — the daily-growth path (a 100 TB
    * corpus adds a few million pairs a day; re-running CC over the
    * full graph to absorb them is a full-corpus job for a
    * metadata-size change, the same argument as [[Scd2]].applyBatch).
    *
    * The prior assignment's (node → component) rows ARE star edges, so
    * CC over (touched stars ∪ new pairs) reproduces exactly what a
    * full rebuild would say about those components — equivalence with
    * the full rebuild is asserted in DupGroupsSpec. Untouched
    * components pass through a broadcast anti join, never entering a
    * CC round. `pairs` is assumed batch-sized (its node list
    * broadcasts); `prior` can be arbitrarily large but is scanned
    * THREE times (semi, anti, and through the rebuilt CC input) — pass
    * a MATERIALIZED assignment (a parquet artifact, a checkpointed
    * frame, or `connectedComponents`' own checkpointed output), never
    * a live recompute-on-read pipeline. */
  def updateClusters(prior: DataFrame, pairs: DataFrame,
      aCol: String, bCol: String, maxIter: Int = 50): DataFrame = {
    val newNodes = pairs.select(col(aCol).cast("long").as("node"))
      .union(pairs.select(col(bCol).cast("long").as("node")))
      .distinct()
    // components adjacent to the batch (absent nodes join nothing —
    // they are new to the graph and surface through the CC below)
    val touchedComps = broadcast(prior
      .join(broadcast(newNodes), "node")
      .select(col("component").as("__tc"))
      .distinct())
    val touched = prior.join(touchedComps,
      prior("component") === touchedComps("__tc"), "left_semi")
    val untouched = prior.join(touchedComps,
      prior("component") === touchedComps("__tc"), "left_anti")
    val rebuilt = connectedComponents(
      touched.select(col("node").as("u"), col("component").as("v"))
        .unionByName(pairs.select(col(aCol).cast("long").as("u"),
          col(bCol).cast("long").as("v"))),
      "u", "v", maxIter)
    untouched.unionByName(rebuilt)
  }

  /** Annotate `docs` with its duplicate cluster and survivor flag:
    * every doc gets `cluster` (the min doc id of its component — its
    * own id when unpaired) and `is_keep` (true for the one canonical
    * survivor per cluster, the min id — deterministic and re-run
    * stable). `docs.filter(is_keep)` IS the deduplicated corpus. */
  def assignClusters(docs: DataFrame, idCol: String,
      pairs: DataFrame, aCol: String, bCol: String): DataFrame = {
    // star set only: the left join + coalesce below defaults every
    // unmapped doc (component minima, unpaired docs) to its own id,
    // so the node-completion stage would be recomputing what the
    // coalesce already says
    val cc = componentsCore(pairs, aCol, bCol, maxIter = 50,
        completeNodes = false)
      .withColumnRenamed("node", "__n")
    docs
      .join(cc, docs(idCol) === cc("__n"), "left")
      .withColumn("cluster", coalesce(col("component"), col(idCol).cast("long")))
      .withColumn("is_keep", col("cluster") === col(idCol).cast("long"))
      .drop("__n", "component")
  }
}
