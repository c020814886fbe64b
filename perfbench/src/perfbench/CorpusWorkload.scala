package perfbench

import java.util.SplittableRandom

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.TextFunctions
import graft.operators.{CacheRegistry, DupGroups, MinHashLSH, SimHash, TextDedup}

/** A seeded corpus whose duplicate structure is known by construction.
  *
  * The base holds `Base` documents of `Tokens` tokens: unique origins,
  * `ExactDups` copies of origins that differ only in case and spacing,
  * `NearDups` variants of other origins with one token replaced (word
  * 3-gram Jaccard ≈ 0.93, far above the 0.7 threshold), and
  * `Contaminated` origins carrying a 12-token span of an evaluation
  * document. The corpus is `Copies` amplified copies of the base in the
  * ScaleBench manner: copy k > 0 suffixes every content word with
  * "▲k", so each copy repeats the base's duplicate structure over its
  * own shingles. Stopwords and planted spans are never suffixed, which
  * keeps every copy English for the quality gate and contaminated. */
final class CorpusGen(seed: Long) {
  import CorpusGen._
  private val rng = new SplittableRandom(seed)
  private val vocab: Array[String] = {
    val syl = Array("ka", "lo", "mi", "ne", "ru", "sa", "to", "vi", "de", "po",
      "ra", "mu", "ze", "fi", "go", "ba", "ti", "ko", "le", "nu")
    val words = scala.collection.mutable.LinkedHashSet.empty[String]
    while (words.size < 4000)
      words += (0 until 2 + rng.nextInt(3)).map(_ => syl(rng.nextInt(syl.length))).mkString
    words.filterNot(TextFunctions.StopWords.contains).toArray
  }
  private def word(): String = vocab(rng.nextInt(vocab.length))

  /** Tokens with a flag: true when copies may suffix the token. Every
    * tenth token is a stopword, so every document passes the gate's
    * English test (stopword share ≥ 5 %). */
  private def doc(n: Int): Array[(String, Boolean)] = Array.tabulate(n) { i =>
    if (i % 10 == 0 || rng.nextInt(100) < 8)
      (TextFunctions.StopWords(rng.nextInt(TextFunctions.StopWords.length)), false)
    else (word(), true)
  }

  val eval: Seq[Array[(String, Boolean)]] = Seq.fill(EvalDocs)(doc(40))

  /** Base documents by index: origins, exact copies, variants. */
  val base: Array[Array[(String, Boolean)]] = {
    val b = new Array[Array[(String, Boolean)]](Base)
    (0 until Origins).foreach(i => b(i) = doc(Tokens))
    ContaminatedIdx.foreach { i =>
      val e = eval(rng.nextInt(EvalDocs))
      val at = rng.nextInt(Tokens - 12)
      val from = rng.nextInt(e.length - 12)
      (0 until 12).foreach(k => b(i)(at + k) = (e(from + k)._1, false))
    }
    (0 until ExactDups).foreach(j => b(Origins + j) = b(j))
    (0 until NearDups).foreach { j =>
      val v = b(ExactDups + j).clone()
      var w = word()
      while (v.exists(_._1 == w)) w = word()
      v(Tokens / 2 + 1) = (w, true)
      b(Origins + ExactDups + j) = v
    }
    b
  }

  /** Seeded permutation of base indexes: the keys change with the seed. */
  val perm: Array[Int] = {
    val p = Array.range(0, Base)
    (Base - 1 to 1 by -1).foreach { i =>
      val j = rng.nextInt(i + 1)
      val t = p(i); p(i) = p(j); p(j) = t
    }
    p
  }

  def id(copy: Int, idx: Int): Long = copy.toLong * Stride + perm(idx)

  def text(copy: Int, idx: Int): String = {
    val toks = base(idx).map { case (t, sfx) => if (sfx && copy > 0) s"$t▲$copy" else t }
    if (idx >= Origins && idx < Origins + ExactDups)
      // an exact copy: the same text after case and whitespace folding
      toks.updated(0, toks(0).capitalize).mkString(" ").replaceFirst(" ", "  ")
    else toks.mkString(" ")
  }

  def evalText: Seq[String] = eval.map(_.map(_._1).mkString(" "))

  private def pairsOf(copy: Int, idxs: Seq[(Int, Int)]): Seq[(Long, Long)] =
    idxs.map { case (a, b) =>
      val (x, y) = (id(copy, a), id(copy, b))
      (math.min(x, y), math.max(x, y))
    }
  private val copies = 0 until Copies
  val exactPairs: Seq[(Long, Long)] =
    copies.flatMap(c => pairsOf(c, (0 until ExactDups).map(j => (j, Origins + j))))
  val nearPairs: Set[(Long, Long)] = copies.flatMap(c => pairsOf(c,
    (0 until NearDups).map(j => (ExactDups + j, Origins + ExactDups + j)))).toSet
  val allIds: Set[Long] = (for (c <- copies; i <- 0 until Base) yield id(c, i)).toSet
  val exactKeep: Set[Long] = allIds -- exactPairs.map(_._2)
  val clusterKeep: Set[Long] = exactKeep -- nearPairs.map(_._2)
  val contaminated: Set[Long] = (for (c <- copies; i <- ContaminatedIdx) yield id(c, i)).toSet
  val finalKeep: Set[Long] = clusterKeep -- contaminated
}

object CorpusGen {
  val Base = 600
  val Copies = 4
  val Tokens = 80
  val ExactDups = 30
  val NearDups = 50
  val Origins = Base - ExactDups - NearDups
  /** Origins that carry an evaluation span: neither copied nor varied. */
  val ContaminatedIdx: Range = ExactDups + NearDups until ExactDups + NearDups + 20
  val EvalDocs = 40
  val Stride = 10000L
}

/** One corpus pass per op: quality gate + exact dedup, MinHash pairs,
  * DupGroups clusters, SimHash pairs, decontamination, and the
  * surviving corpus written as parquet. Each stage writes its output,
  * so spans time stages one by one (see README). */
final class CorpusWorkload(spark: SparkSession, seed: Long, tracer: Tracer)
    extends Workload {
  val opSeconds = 5.0
  import CorpusGen._
  val name = "corpus_dedup"
  private var dir: String = _
  private var gen: CorpusGen = _

  def setup(d: String): Unit = {
    dir = d
    gen = new CorpusGen(seed)
    import spark.implicits._
    val rows = for (c <- 0 until Copies; i <- 0 until Base)
      yield (gen.id(c, i), gen.text(c, i), "en", s"src${i % 7}")
    rows.toDF("doc_id", "text", "lang", "source")
      .withColumn("n_chars", length(col("text")).cast("long"))
      .repartition(spark.sparkContext.defaultParallelism)
      .write.parquet(s"$d/documents")
    gen.evalText.toDF("text").coalesce(1).write.parquet(s"$d/bench")
  }

  def warmup(): Unit = op(-1)

  private def out(stage: String) = s"$dir/out/$stage"
  private def write(df: DataFrame, stage: String): Unit =
    df.write.mode("overwrite").parquet(out(stage))
  private def read(stage: String) = spark.read.parquet(out(stage))

  def op(i: Int): Long = {
    val docs = spark.read.parquet(s"$dir/documents")
    try {
      tracer.span("corpus.exact") {
        val gated = docs.where(call_function("text_gate", col("text"), lit(0.75), lit(0.2)))
        val keep = TextDedup.exact(gated, "doc_id", "text")
          .select(col("keep_doc_id").as("doc_id"))
        write(gated.join(keep, Seq("doc_id"), "left_semi"), "exact")
      }
      val exact = read("exact")
      tracer.span("corpus.minhash") {
        write(MinHashLSH.nearDupPairs(exact, "doc_id", "text", threshold = 0.7)
          .select("doc_a", "doc_b"), "mh_pairs")
      }
      // MinHashLSH.dedupCorpus, with its pairs materialized in between
      tracer.span("corpus.clusters") {
        val kept = DupGroups.assignClusters(exact, "doc_id", read("mh_pairs"),
            "doc_a", "doc_b")
          .where(col("is_keep")).drop("cluster", "is_keep")
        write(kept, "mh_keep")
        CacheRegistry.freeReliableCheckpoints(kept)
      }
      tracer.span("corpus.simhash") {
        write(SimHash.nearDupPairs(exact, "doc_id", "text")
          .select("doc_a", "doc_b", "hamming"), "sh_pairs")
      }
      val kept = read("mh_keep")
      tracer.span("corpus.decontam") {
        write(TextDedup.decontaminate(kept, "doc_id", "text",
            spark.read.parquet(s"$dir/bench"), "text", n = 3, minOverlap = 5)
          .where(col("is_contaminated")).select("doc_id"), "contaminated")
      }
      tracer.span("corpus.write") {
        write(kept.join(read("contaminated"), Seq("doc_id"), "left_anti")
          .join(read("sh_pairs").select(col("doc_b").as("doc_id")).distinct(),
            Seq("doc_id"), "left_anti"), "corpus")
      }
    } finally CacheRegistry.releaseAll()
    Copies.toLong * Base
  }

  private def ids(stage: String, c: String = "doc_id"): Set[Long] =
    read(stage).select(c).collect().map(_.getLong(0)).toSet
  private def pairs(stage: String): Set[(Long, Long)] =
    read(stage).select("doc_a", "doc_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet

  private def setCheck[T](name: String, got: Set[T], want: Set[T]): Check =
    Check(name, got == want, s"got ${got.size}, want ${want.size}, " +
      s"missing ${(want -- got).size}, extra ${(got -- want).size}")

  /** Every pair within Hamming 3 of the 128-bit fingerprints, by an
    * all-pairs scan on the driver. */
  private def simhashReference(): Set[(Long, Long)] = {
    val fp = SimHash.fingerprints128(read("exact"), "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val found = Set.newBuilder[(Long, Long)]
    for (a <- fp.indices; b <- a + 1 until fp.length) {
      val (x, y) = (fp(a), fp(b))
      if (java.lang.Long.bitCount(x._2 ^ y._2) + java.lang.Long.bitCount(x._3 ^ y._3) <= 3)
        found += ((math.min(x._1, y._1), math.max(x._1, y._1)))
    }
    found.result()
  }

  def check(): Seq[Check] = {
    val exactN = read("exact").count()
    Seq(
      Check("exact.count", exactN == Copies.toLong * (Base - ExactDups),
        s"survivors $exactN, want $Copies × ${Base - ExactDups}"),
      setCheck("exact.ids", ids("exact"), gen.exactKeep),
      setCheck("minhash.pairs", pairs("mh_pairs"), gen.nearPairs),
      setCheck("clusters.keep", ids("mh_keep"), gen.clusterKeep),
      setCheck("simhash.pairs", pairs("sh_pairs"), simhashReference()),
      setCheck("decontam.flagged", ids("contaminated"), gen.contaminated),
      setCheck("corpus.ids", ids("corpus"), gen.finalKeep))
  }

  def storedBytesPerRow(): Double =
    Main.dirBytes(out("corpus")).toDouble / gen.finalKeep.size

  override def layerExtras(ops: Seq[Main.OpRec]): Map[String, Double] = {
    val sh = read("exact").select(col("doc_id").as("doc"),
      MinHashLSH.shingleHashes(col("text"), 3).as("sh"))
    val candidates =
      try MinHashLSH.candidatePairs(MinHashLSH.bandBucketsFromHashes(sh)).count()
      finally CacheRegistry.releaseAll()
    val verified = read("mh_pairs").count()
    Map("corpus.candidate_pairs" -> candidates.toDouble,
      "corpus.verified_pairs" -> verified.toDouble,
      "corpus.pair_yield" -> verified.toDouble / math.max(1L, candidates))
  }
}
