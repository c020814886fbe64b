package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

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
  * published shuffle-native CC algorithm. Each round is two
  * groupBy+join passes over the edge list; the edge multiset converges
  * to disjoint stars centered on each component's minimum id in
  * O(log² n) rounds (2–4 in practice on dedup graphs, whose components
  * are near-cliques with tiny diameter). Nothing ever collects to the
  * driver except the per-step convergence signature (2 longs); no
  * component is ever materialized as one row (a 10⁷-member boilerplate
  * cluster stays distributed), unlike connected components via
  * `collect_set`/GraphX-style message passing with array state.
  *
  * The iteration is scheduled for the driver-job floor, which on a
  * busy cluster (and in local mode) dominates the per-round data work:
  * TWO star rounds run per materialized step, the step's convergence
  * signature doubles as its materializing action (so each step is ONE
  * Spark job — no separate count/checkpoint actions), and the dedup
  * exchange between the two fused rounds is elided (large-star's
  * groupBy-min is duplicate-blind, so the inner small-star pass skips
  * its `distinct`). Steps are cache-persisted, each freed as soon as
  * its successor materializes; the returned frame is reliable-
  * checkpointed so EVERY internal cache block is released before the
  * call returns — callers own no CACHE cleanup, and a failure path
  * releases the same blocks via try/finally. The checkpoint FILES
  * live until the RDD is GC'd (with cleanCheckpoints on) or the
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
    * graph. Ids must be integral (long-castable). */
  def connectedComponents(pairs: DataFrame, aCol: String, bCol: String,
      maxIter: Int = 50): DataFrame =
    componentsCore(pairs, aCol, bCol, maxIter, completeNodes = true)

  /** Iteration core. With `completeNodes` the result covers EVERY
    * incident node (component minima map to themselves) — the public
    * contract [[updateClusters]] depends on. Without it the result is
    * just the converged star set (minima and self-loop-only nodes
    * absent): exactly what [[assignClusters]] needs, since its left
    * join + coalesce defaults every unmapped doc to its own id — and
    * skipping the node-completion stage drops a distinct over the
    * pair frame, a join, and shrinks the checkpoint from node-count
    * to star-edge-count rows. */
  private def componentsCore(pairs: DataFrame, aCol: String, bCol: String,
      maxIter: Int, completeNodes: Boolean): DataFrame = {
    val spark = pairs.sparkSession
    import spark.implicits._
    ensureCheckpointDir(spark)

    // materialize the (possibly expensive — an LSH/Jaccard pipeline)
    // pair input ONCE before anything branches over it: the node and
    // edge derivations below each read p twice, and without an
    // up-front fill their concurrent branches race the cache and can
    // re-run the whole upstream pipeline.
    val p = pairs.select(col(aCol).cast("long").as("u"),
        col(bCol).cast("long").as("v"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    p.count()

    // step-0 edges are the raw pairs, uncanonicalized: large-star
    // symmetrizes via explode (orientation-blind), its window-min is
    // duplicate-blind, and the v > u filter drops self-loops — so no
    // up-front distinct exchange is needed
    var edges = p.select($"u".as("hi"), $"v".as("lo"))

    // large-star: every node links its LARGER neighbors to the minimum
    // of its closed neighborhood; small-star: every node links its
    // smaller neighbors (and itself) to that minimum. Both strictly
    // shrink the potential Σ depth; alternation converges to stars.
    //
    // Each pass references its input exactly ONCE — symmetrize via
    // explode (not self-union) and take the neighborhood minimum via a
    // window (not a groupBy+self-join). Self-referencing formulations
    // multiply the plan TREE ~5× per pass, which compounds to ~625
    // duplicated upstream subtrees per fused double-round and stalls
    // the analyzer (DeduplicateRelations re-aliases every copy); the
    // single-reference shape keeps the plan linear in fused rounds and
    // costs one exchange per pass (the window's hash partitioning)
    // instead of two. Both passes tolerate duplicate input edges
    // (window-min is duplicate-blind; each input row emits ≤ 2 rows,
    // so multiplicity never compounds past a constant per step).
    def largeStar(e: DataFrame): DataFrame = {
      val w = org.apache.spark.sql.expressions.Window.partitionBy("u")
      e.select(explode(array(
          struct($"hi".as("u"), $"lo".as("v")),
          struct($"lo".as("u"), $"hi".as("v")))).as("s"))
        .select($"s.u".as("u"), $"s.v".as("v"))
        .withColumn("m", least(min($"v").over(w), $"u"))
        .where($"v" > $"u")
        // m ≤ u < v, so (v, m) is already canonical (hi > lo)
        .select($"v".as("hi"), $"m".as("lo"))
    }
    // small-star WITHOUT the dedup exchange: m = min(lo) over the hi
    // group, so (hi, m) has hi > m and (lo, m) has lo ≥ m — output is
    // already (hi > lo)-oriented once equal pairs are dropped, and the
    // duplicates a skipped distinct leaves behind are harmless to the
    // next large-star pass. Used for the inner fused round.
    def smallStarRaw(e: DataFrame): DataFrame = {
      val w = org.apache.spark.sql.expressions.Window.partitionBy("hi")
      e.withColumn("m", min($"lo").over(w))
        .select(explode(array(
          struct($"hi".as("u"), $"m".as("v")),
          struct($"lo".as("u"), $"m".as("v")))).as("s"))
        .select($"s.u".as("u"), $"s.v".as("v"))
        .where($"u" =!= $"v")
        .select($"u".as("hi"), $"v".as("lo"))
    }
    def smallStar(e: DataFrame): DataFrame = smallStarRaw(e).distinct()

    // Order-independent set signatures (the compared frames are
    // distinct, so xor is collision-safe to ~2⁻⁶⁴ with the count);
    // signature equality = fixed point = star set (both passes are
    // monotone in the Kiveris potential and strictly decrease it off
    // stars, so no non-star cycles exist). Each step's action computes
    // the signatures of BOTH fused rounds at once via a tagged union —
    // agreement means the inner round was already a fixed point, so
    // clique-ish graphs (the dedup norm) converge in ONE job with no
    // confirm step. Both rounds are lazily checkpointed, so the two
    // branches share one computation of the inner round (BlockManager
    // block locks serialize concurrent readers onto a single fill) —
    // the union does NOT recompute round one.
    def stepSignatures(inner: DataFrame, outer: DataFrame): ((Long, Long), (Long, Long)) = {
      val rows = inner.select(lit(1).as("half"), $"hi", $"lo")
        .union(outer.select(lit(2).as("half"), $"hi", $"lo"))
        .groupBy("half")
        .agg(count(lit(1)), expr("bit_xor(xxhash64(hi, lo))"))
        .collect()
      def sigOf(h: Int): (Long, Long) = rows.find(_.getInt(0) == h)
        .map(r => (r.getLong(1), if (r.isNullAt(2)) 0L else r.getLong(2)))
        .getOrElse((0L, 0L))
      (sigOf(1), sigOf(2))
    }

    // Lazy localCheckpoint cuts BOTH lineages between steps — the
    // logical plan (star passes reference their input 2–4× per round;
    // without a cut the plan tree and the analyzer's work grow
    // exponentially with rounds) and the RDD chain (constant-size task
    // binaries) — while staying job-free: the step's signature action
    // is what materializes the checkpoint. localCheckpoint persists at
    // the RDD level, which Dataset.unpersist() does NOT release (the
    // round-6 cache leak), so each step's underlying RDD is captured
    // from its LogicalRDD and freed explicitly once its successor is
    // materialized.
    var stepRdds: Seq[org.apache.spark.rdd.RDD[_]] = Nil

    try {
      // Each loop step = two star rounds + one materializing signature
      // action — ONE Spark job. Steps to convergence are O(log² n),
      // 1–3 on real dedup graphs (near-clique components).
      var sig: Option[(Long, Long)] = None
      var converged = false
      var it = 0
      while (!converged && it < maxIter) {
        val r1 = smallStarRaw(largeStar(edges)).distinct()
          .localCheckpoint(eager = false)
        val next = smallStar(largeStar(r1))
          .localCheckpoint(eager = false)
        val (innerSig, nextSig) = stepSignatures(r1, next)
        stepRdds.foreach(_.unpersist(blocking = false))
        stepRdds = Seq(r1, next).flatMap(CacheRegistry.localCheckpointRdd)
        edges = next
        // converged when: empty edge set (self-loop-only input), the
        // inner round was already a fixed point, or two consecutive
        // steps agree
        converged = nextSig._1 == 0L || nextSig == innerSig ||
          sig.contains(nextSig)
        sig = Some(nextSig)
        it += 2
      }
      require(converged, s"connectedComponents did not converge in $maxIter rounds")

      // converged edges are stars (hi = member, lo = component min);
      // nodes absent from any star are their own component. The result
      // is reliable-checkpointed (node+component longs — metadata-sized
      // relative to the corpus) so every cache block below can go.
      val result =
        if (completeNodes) {
          val nodes = p.select($"u".as("n")).union(p.select($"v".as("n")))
            .distinct()
          nodes
            .join(edges.select($"hi".as("n"), $"lo".as("comp")), Seq("n"), "left")
            .select($"n".as("node"), coalesce($"comp", $"n").as("component"))
        } else
          edges.select($"hi".as("node"), $"lo".as("component"))
      result.checkpoint(eager = true)
    } finally {
      p.unpersist()
      stepRdds.foreach(_.unpersist(blocking = false))
    }
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
