package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Amplified-corpus scaling bench for the heavy dedup/corpus family.
  *
  * The full suite is fixed-overhead dominated at sf0.1 (100× the data
  * costs ~1.5× the time), so per-round BENCH numbers say little about
  * how the SHUFFLE-heavy operators scale. This main builds
  * deterministic 10×/30× expansions of `documents` (the r7
  * 10×-embeddings precedent) and measures just the dedup-family
  * headliners at each factor, pooling per-query minima over reps.
  *
  * Amplification contract (copy k of factor F, k = 0..F−1):
  *   - `doc_id` += k · 10^len(max doc_id) — disjoint id ranges, and
  *     the q54/q61 synthetic-fragment offset (10^len of the NEW max)
  *     still clears every amplified id;
  *   - every token of copy k > 0 gets a `▲k` suffix, so each copy
  *     reproduces the base corpus' near-dup structure EXACTLY (same
  *     shingle relationships, disjoint hash universe per copy): dup
  *     mass scales linearly with F, the way a bigger crawl actually
  *     behaves — naive row duplication would instead square every
  *     duplicate group;
  *   - the q67/q84 boilerplate banner is injected by the queries
  *     themselves from a literal, so it stays IDENTICAL across copies
  *     — the hot-hash boilerplate path is stressed at F× occurrency,
  *     also like a real crawl.
  *
  * Output: one JSON line {"metric":"scale", "factors":{"1":{...}}}
  * with per-query min-of-reps seconds, per-factor corpus build and
  * artifact first-run times, and the Bench probe drift per factor.
  */
object ScaleBench {

  /** The families whose cost is dominated by real shuffle/join work
    * over documents, not per-job floor. */
  val heavy: Seq[String] = Seq(
    "q18_minhash_pairs", "q20_ngram_jaccard", "q54_dup_clusters",
    "q61_corpus_pipeline", "q67_chunk_dedup", "q84_substring_dedup")

  /** r10: the e-commerce join family, over amplified
    * lineitem/orders/events (the r9 verdict's ask — the docs sweep said
    * nothing about the join-shaped plans). */
  val joinHeavy: Seq[String] = Seq(
    "q10_star_join", "q44_scd2_history", "q45_bloom_delete_insert",
    "q48_point_in_time", "q53_range_join", "q65_salted_join")

  /** r16: the simhash pair — q42's empty-hot short-circuit (r15) makes
    * the idf-weighted form cost the same candidate self-join as plain
    * q19, so their ratio is an engine-constant tie (~1.0) that should
    * hold per round; the output carries `q42_over_q19` so the tie is
    * tracked per run of this bench (VERDICT r15 item 3). */
  val simhashPair: Seq[String] = Seq("q19_simhash", "q42_simhash_idf")

  def main(args: Array[String]): Unit = {
    val base = args.headOption.getOrElse("/root/testdata/sf0.1")
    val factors = args.lift(1).getOrElse("1,10,30")
      .split(",").map(_.trim.toInt).toSeq
    val work = args.lift(2).getOrElse("/tmp/graft_scale")
    val family = args.lift(3).getOrElse("docs") // docs | joins | all
    val reps = sys.env.getOrElse("SPARK_GRAFT_BENCH_REPS", "3").toInt
    val spark = GraftSession.create()

    if (family == "recall") {
      runRecall(spark, base, factors, work)
      spark.stop()
      return
    }
    val picked = family match {
      case "joins" => joinHeavy
      case "all" => heavy ++ joinHeavy
      case "simhash" => simhashPair
      case _ => heavy
    }
    val queries = SparkEntry.queries.filter(q => picked.contains(q._1))

    def probeSec(): Double = {
      val t0 = System.nanoTime()
      spark.range(40000000L).selectExpr("bit_xor(xxhash64(id))").head()
      (System.nanoTime() - t0) / 1e9
    }

    // codegen/JIT warm on the tiny SF (the Bench discipline)
    queries.foreach { case (_, fn) =>
      try fn(spark, "/root/testdata/sf0.001")
        .write.mode("overwrite").format("noop").save()
      catch { case _: Throwable => () }
    }
    probeSec()

    val factorJson = factors.map { f =>
      val (dir, buildSec) = prepare(spark, base, f, work, family != "docs")
      val pf = probeSec()
      val rows = queries.toSeq.sortBy(_._1).map { case (name, fn) =>
        // first run pays per-dir artifact builds (stop lists, the
        // verified-pair table) — the once-per-corpus cost, reported
        // separately from the steady-state min
        graft.operators.CacheRegistry.releaseAll()
        val t0 = System.nanoTime()
        // noop sink, not count() — the Bench materialization fix
        // (count lets Catalyst eliminate the operator under test)
        val first =
          try { fn(spark, dir).write.mode("overwrite").format("noop").save()
            (System.nanoTime() - t0) / 1e9 }
          catch { case e: Throwable =>
            System.err.println(s"[scale] x$f $name failed: $e"); -1.0 }
        val best =
          if (first < 0) -1.0
          else (1 to reps).map { _ =>
            graft.operators.CacheRegistry.releaseAll()
            val s0 = System.nanoTime()
            fn(spark, dir).write.mode("overwrite").format("noop").save()
            (System.nanoTime() - s0) / 1e9
          }.min
        (name, first, best)
      }
      val drift = probeSec() / pf
      val qs = rows.map { case (n, first, best) =>
        "\"" + n + "\":{\"first_sec\":" + first + ",\"min_sec\":" + best + "}"
      }.mkString(",")
      val total = rows.collect { case (_, _, b) if b >= 0 => b }.sum
      // the q42≈q19 engine-constant tie, tracked per round when both
      // are in the measured set (the "simhash"/"all" families)
      val pair = for {
        a <- rows.find(_._1 == "q42_simhash_idf").map(_._3).filter(_ > 0)
        b <- rows.find(_._1 == "q19_simhash").map(_._3).filter(_ > 0)
      } yield ",\"q42_over_q19\":" + math.round(a / b * 100.0) / 100.0
      s""""$f":{"corpus_build_sec":$buildSec,"total_min_sec":$total,"probe_drift":$drift${pair.getOrElse("")},$qs}"""
    }.mkString(",")
    println(s"""{"metric":"scale","base":"$base","reps":$reps,"factors":{$factorJson}}""")
    spark.stop()
  }

  /** r16 (VERDICT r15 item 4): ANN recall at amplified cell
    * populations. Every committed recall gate (AnnSpec) runs at
    * sf0.01–sf0.1 where IVF cells hold a handful of vectors; this mode
    * measures recall@10 of the approximate paths — ivfKnnJoin across a
    * probe-width grid, adaptiveProbes-sized probing, and IVF-PQ —
    * against the exact [[graft.operators.Ann.knnJoin]] on a factor-F
    * embeddings corpus, where cell populations are what 100 TB IVF
    * actually faces.
    *
    * Amplification (`embeddings_amp.parquet` WRITTEN NEXT TO the tier
    * dir's symlinked base table, so bench corpora are untouched and
    * committed per-query tables stay comparable): copy k of factor F
    * offsets vec_id by k·10^len(max id) and jitters every coordinate
    * of copies k > 0 by a deterministic uniform ±0.04 (xxhash64 of the
    * amplified id and coordinate index; ≈⅓ of the per-coordinate std),
    * so the base's cluster structure survives while every copy
    * contributes distinct vectors — populations scale by F without the
    * degenerate exact-tie corpus naive duplication would create.
    *
    * The quantizer is retrained per tier at √N cells (capped 256) with
    * the q22Centroids discipline (2 Lloyd iterations on the 1/4
    * hash-sample); the PQ codebook likewise (m=16, ksub=16 — the q47
    * config). */
  private def runRecall(spark: SparkSession, base: String,
      factors: Seq[Int], work: String): Unit = {
    import graft.operators.{Ann, Pq}
    val k = 10
    def timed[T](body: => T): (T, Double) = {
      val t0 = System.nanoTime()
      val r = body
      (r, math.round((System.nanoTime() - t0) / 1e7) / 100.0)
    }
    val factorJson = factors.map { f =>
      val e = spark.read.parquet(prepareEmbeddings(spark, base, f, work))
      val baseStride = stride(
        spark.read.parquet(s"$base/embeddings.parquet"), "vec_id")
      // the q55 query predicate, restricted to the base copy: 40
      // queries regardless of F (queries are excluded from the corpus,
      // as in every gated ANN query)
      val isQuery = col("vec_id") < baseStride && col("vec_id") % 50 === 7
      val queries = e.where(isQuery).persist()
      val corpus = e.where(!isQuery).persist()
      val n = corpus.count()
      val nQ = queries.count()
      val (truth, truthSec) = timed {
        val t = Ann.knnJoin(corpus, queries, "vec_id", "embedding", k)
          .select("query_id", "vec_id").persist()
        t.count(); t
      }
      def recallOf(approx: DataFrame): Double = {
        val hits = truth.join(approx.select("query_id", "vec_id"),
          Seq("query_id", "vec_id")).count()
        math.round(hits.toDouble / (nQ * k) * 1000.0) / 1000.0
      }
      val kCells = math.max(8, math.min(256, math.sqrt(n.toDouble).toInt))
      val (cents, trainSec) = timed {
        Ann.trainCentroids(corpus, "vec_id", "embedding", kCells,
          iters = 2, sampleMod = 4)
      }
      val counts = Ann.cellStats(corpus, "embedding", cents).collect()
        .map(r => r.getInt(0) -> r.getLong(1)).toMap
      val popMax = counts.values.foldLeft(0L)(math.max)
      val popMean =
        if (counts.isEmpty) 0.0 else counts.values.sum.toDouble / counts.size
      val probeGrid = Seq(kCells / 32, kCells / 16, kCells / 8, kCells / 4)
        .map(math.max(1, _)).distinct
      val ivfJson = probeGrid.map { np =>
        val (res, sec) = timed {
          val a = Ann.ivfKnnJoin(corpus, queries, "vec_id", "embedding",
            k, cents, np).persist()
          a.count(); a
        }
        val r = recallOf(res)
        res.unpersist()
        s""""nprobe_$np":{"recall_at_10":$r,"sec":$sec}"""
      }.mkString(",")
      // adaptiveProbes: per-query probe sets sized to cover >= 100*k
      // candidate vectors by the persisted cell counts — the
      // population-coverage rule the operator ships; validate the
      // recall it buys at the median width
      val minCand = 100L * k
      val qVecs = queries.select(col("vec_id"),
          transform(col("embedding"), x => x.cast("double")).as("v"))
        .collect()
        .map(r => r.getSeq[Double](1).toArray)
      val widths = qVecs.map(v =>
        Ann.adaptiveProbes(v, cents, counts, minCand).length).sorted
      val medianW = widths(widths.length / 2)
      val maxW = widths.last
      val adaptiveRecall = {
        val a = Ann.ivfKnnJoin(corpus, queries, "vec_id", "embedding",
          k, cents, medianW)
        recallOf(a)
      }
      // IVF-PQ: the q47/q52 codebook config over the tier's quantizer;
      // one single-vector probe per query (the operator's shape)
      val (cb, pqTrainSec) = timed {
        Pq.train(corpus, "vec_id", "embedding", m = 16, ksub = 16,
          iters = 2, sampleMod = 4)
      }
      val encoded = Pq.encodeTableWithCells(
        corpus, "vec_id", "embedding", cb, cents).persist()
      encoded.count()
      val truthByQ = truth.collect()
        .groupBy(_.getLong(0)).map { case (q, rs) =>
          q -> rs.map(_.getLong(1)).toSet }
      val pqNprobe = math.max(1, kCells / 8)
      // rerank grid: at amplified tiers the true top-k sit inside a
      // ~F-vector near-tie cluster whose members the 16×16 ADC cannot
      // order, so the exact re-rank pool (rerank·k ADC candidates)
      // must COVER the tie population — rerank ≳ F — or recall
      // collapses while exact-distance IVF stays at 1.0 (measured
      // r16: x100 rerank=4 → 0.348). The grid commits that sizing
      // rule with evidence instead of a scaladoc assertion.
      def pqRecallAt(rr: Int): (Double, Double) = timed {
        val qids = queries.select("vec_id").collect().map(_.getLong(0))
        val per = qids.map { qid =>
          val got = Pq.ivfPqTopK(encoded, corpus,
              queries.where(col("vec_id") === qid), "vec_id", "embedding",
              k, cb, cents, nprobe = pqNprobe, rerank = rr)
            .select("vec_id").collect().map(_.getLong(0)).toSet
          truthByQ.getOrElse(qid, Set.empty[Long])
            .intersect(got).size.toDouble / k
        }
        math.round(per.sum / per.length * 1000.0) / 1000.0
      }
      val rrGrid = Seq(4, math.max(8, f / 2), math.max(16, 2 * f)).distinct
      val pqJson = rrGrid.map { rr =>
        val (r, sec) = pqRecallAt(rr)
        s""""ivfpq_rerank_$rr":{"nprobe":$pqNprobe,"rerank":$rr,""" +
        s""""recall_at_10":$r,"loop_sec":$sec}"""
      }.mkString(",")
      val json =
        s""""$f":{"n_corpus":$n,"n_queries":$nQ,"k_cells":$kCells,""" +
        s""""cell_pop_mean":${math.round(popMean * 10) / 10.0},""" +
        s""""cell_pop_max":$popMax,"train_sec":$trainSec,""" +
        s""""truth_sec":$truthSec,$ivfJson,""" +
        s""""adaptive":{"min_candidates":$minCand,"median_probes":$medianW,""" +
        s""""max_probes":$maxW,"recall_at_10":$adaptiveRecall},""" +
        s""""pq_train_sec":$pqTrainSec,$pqJson}"""
      Seq(truth, queries, corpus, encoded).foreach(_.unpersist())
      json
    }.mkString(",")
    println(s"""{"metric":"recall","base":"$base","k":$k,"factors":{$factorJson}}""")
  }

  /** Factor-f embeddings corpus for [[runRecall]] — see its scaladoc
    * for the jitter contract. Idempotent per tier dir; does NOT touch
    * the tier's symlinked `embeddings.parquet`. */
  private[graft] def prepareEmbeddings(spark: SparkSession, base: String,
      f: Int, work: String): String = {
    if (f == 1) return s"$base/embeddings.parquet"
    val dir = s"$work/x$f"
    new java.io.File(dir).mkdirs()
    val path = s"$dir/embeddings_amp.parquet"
    if (java.nio.file.Files.exists(java.nio.file.Paths.get(path))) return path
    val e = spark.read.parquet(s"$base/embeddings.parquet")
    val st = stride(e, "vec_id")
    val copies = broadcast(spark.range(f).select(col("id").as("__k")))
    val cores = spark.sparkContext.defaultParallelism
    val ampId = col("vec_id") + col("__k") * st
    e.repartition(cores).crossJoin(copies)
      .select(
        ampId.as("vec_id"),
        when(col("__k") === 0, col("embedding")).otherwise(
          transform(col("embedding"), (x, i) =>
            (x + (pmod(xxhash64(ampId, i), lit(1000)).cast("double") /
              lit(1000.0) - lit(0.4995)) * lit(0.08)).cast("float")))
          .as("embedding"),
        col("label"))
      .repartition(math.min(f * 2, cores))
      .write.mode("overwrite").parquet(path)
    path
  }

  /** 10^(decimal length of the table's max value in `keyCol`) — the
    * per-copy offset that keeps amplified key ranges disjoint. */
  private def stride(df: DataFrame, keyCol: String): Long =
    math.pow(10,
      df.agg(max(col(keyCol))).head().getLong(0).toString.length).toLong

  /** Materialize the factor-f corpus dir (idempotent per table):
    * amplified documents (+ lineitem/orders/events when `withJoins`) +
    * symlinks to every other base table. Returns (dir, buildSeconds —
    * 0.0 when fully reused).
    *
    * Join-table amplification contract (copy k of factor F):
    *   - lineitem/orders: `*_orderkey += k · 10^len(max)` — disjoint
    *     order ranges per copy, fact⋈fact joins stay 1:1 per copy; dim
    *     keys (custkey, partkey, suppkey) are NOT amplified, so each
    *     dim row gains F× fact mass — exactly how a growing fact over a
    *     stable dim behaves (and the q65 hot key stays hot, F× bigger).
    *   - events: `user_id`/`event_id` += k·stride AND `ts` += k·span —
    *     fresh user population over a fresh month per copy, modeling a
    *     longer retention window. The time shift keeps q53's
    *     interval-join pair mass linear in F (same-time replication
    *     would square it: every copy's points fall in every copy's
    *     incident windows). */
  private[graft] def prepare(spark: SparkSession, base: String, f: Int,
      work: String, withJoins: Boolean): (String, Double) = {
    require(f >= 1, s"factor must be >= 1, got $f")
    if (f == 1) return (base, 0.0)
    val dir = s"$work/x$f"
    new java.io.File(dir).mkdirs()
    val t0 = System.nanoTime()
    var built = false
    val copies = broadcast(spark.range(f).select(col("id").as("__k")))

    def need(table: String): Boolean = {
      val p = java.nio.file.Paths.get(dir, s"$table.parquet")
      // a symlink is the base's un-amplified file — replace it
      if (java.nio.file.Files.isSymbolicLink(p)) java.nio.file.Files.delete(p)
      !java.nio.file.Files.exists(p)
    }
    // the session's actual core count (GraftSession's N) — NOT a
    // literal 32, so the spread matches the executor count on any box
    // (r13 ADVICE)
    val cores = spark.sparkContext.defaultParallelism
    def write(table: String, df: DataFrame): Unit = {
      df.repartition(math.min(f * 4, cores))
        .write.mode("overwrite").parquet(s"$dir/$table.parquet")
      built = true
    }
    // the base tables are single ~20 MB files = ONE scan partition, so
    // a crossJoin(copies) would funnel all f× output rows through one
    // map task (measured at f=100: a 60 M-row single-task sort-spill,
    // 10+ min; 32-way it's ~2 min). Spread the base FIRST — the
    // crossJoin then amplifies core-count ways in parallel. Row set
    // unchanged.
    def spread(df: DataFrame): DataFrame = df.repartition(cores)

    if (need("documents")) {
      val d = spark.read.parquet(s"$base/documents.parquet")
      val s = stride(d, "doc_id")
      write("documents", spread(d).crossJoin(copies)
        .select(
          (col("doc_id") + col("__k") * s).as("doc_id"),
          when(col("__k") === 0, col("text")).otherwise(concat_ws(" ",
            transform(split(col("text"), " "),
              t => concat(t, lit("▲"), col("__k"))))).as("text"),
          col("lang"), col("source"),
          length(col("text")).cast("long").as("n_chars")))
    }
    if (withJoins) {
      val oStride = stride(spark.read.parquet(s"$base/orders.parquet"), "o_orderkey")
      if (need("lineitem")) {
        val li = spark.read.parquet(s"$base/lineitem.parquet")
        write("lineitem", spread(li).crossJoin(copies)
          .withColumn("l_orderkey", col("l_orderkey") + col("__k") * oStride)
          .drop("__k").select(li.columns.map(col).toSeq: _*))
      }
      if (need("orders")) {
        val o = spark.read.parquet(s"$base/orders.parquet")
        write("orders", spread(o).crossJoin(copies)
          .withColumn("o_orderkey", col("o_orderkey") + col("__k") * oStride)
          .drop("__k").select(o.columns.map(col).toSeq: _*))
      }
      if (need("events")) {
        // loadEvents' session-tz read (the NTZ gotcha) + drop the
        // derived ts_ns — the written file carries the physical ts only
        val e = Tables.loadEvents(spark, base).drop("ts_ns")
        val eStride = stride(e, "event_id")
        val uStride = stride(e, "user_id")
        val spanUs = e.agg((unix_micros(max(col("ts"))) -
          unix_micros(min(col("ts"))) + 86400000000L).as("s")).head().getLong(0)
        write("events", spread(e).crossJoin(copies)
          .withColumn("event_id", col("event_id") + col("__k") * eStride)
          .withColumn("user_id", col("user_id") + col("__k") * uStride)
          .withColumn("ts",
            timestamp_micros(unix_micros(col("ts")) + col("__k") * spanUs))
          .drop("__k").select(e.columns.map(col).toSeq: _*))
      }
    }
    // the remaining tables are the base's own files
    val baseDir = new java.io.File(base)
    baseDir.listFiles.filter(_.getName.endsWith(".parquet"))
      .foreach { src =>
        val link = java.nio.file.Paths.get(dir, src.getName)
        if (!java.nio.file.Files.exists(link))
          java.nio.file.Files.createSymbolicLink(link, src.toPath)
      }
    (dir, if (built) (System.nanoTime() - t0) / 1e9 else 0.0)
  }
}
