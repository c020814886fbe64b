package graft.operators

import org.apache.spark.sql.{Column, DataFrame, ExpressionColumn}
import org.apache.spark.sql.ExpressionColumn.expression
import org.apache.spark.sql.catalyst.expressions.Literal
import org.apache.spark.sql.functions._

import graft.functions.VectorFunctions
import graft.plans.{PqAdc, PqEncode}

/** Product-quantization ANN (Jégou et al. 2011) — the memory-bound
  * scale path [[Ann]]'s IVF composes with: each vector becomes `m`
  * small codes (one per subspace; 32×+ smaller than the float
  * embedding), queries precompute an (m·ksub)-entry inner-product
  * table ONCE, and scanning the corpus is m table lookups per row —
  * no per-row float math. At 100 TB the encoded table (id, codes,
  * norm) is the persisted artifact that fits where the raw vectors
  * don't; candidates from the ADC scan are re-ranked exactly against
  * the raw vectors fetched by id (the standard refine step), so
  * recall degrades gracefully with `rerank`, never silently.
  *
  * Codebooks train per subspace on a sample via [[Ann.trainCentroids]]
  * — a once-per-corpus artifact like the IVF quantizer, never in the
  * query path.
  */
object Pq {

  /** cents(j)(c) = sub-centroid c of subspace j (each dsub wide). */
  case class Codebook(m: Int, ksub: Int, dsub: Int,
      cents: Array[Array[Array[Double]]]) {
    def dim: Int = m * dsub
    /** [subspace][code][component] flat layout for the native kernel. */
    lazy val flat: Array[Double] = cents.flatten.flatten
  }

  /** Train per-subspace codebooks on (a sample of) the corpus. Each
    * subspace is an independent [[Ann.trainCentroids]] run over the
    * sliced column — driver sees only m·ksub·dsub doubles. When the
    * (sampled) corpus has fewer than ksub distinct vectors, the short
    * codebook is padded by repeating its last centroid — argmin never
    * prefers a duplicate, so codes stay valid. */
  def train(embeddings: DataFrame, idCol: String, vecCol: String,
      m: Int, ksub: Int, iters: Int = 2, sampleMod: Int = 1): Codebook = {
    val first = embeddings.where(col(vecCol).isNotNull)
      .select(size(col(vecCol))).take(1)
    require(first.nonEmpty, "pq train: no non-null vectors in the corpus")
    val dim = first.head.getInt(0)
    require(dim % m == 0, s"dim $dim not divisible by m=$m")
    val dsub = dim / m
    val cents = (0 until m).map { j =>
      val sub = embeddings.select(col(idCol),
        slice(col(vecCol), j * dsub + 1, dsub).as(vecCol))
      val c = Ann.trainCentroids(sub, idCol, vecCol, ksub, iters, sampleMod)
      require(c.nonEmpty, "pq train: empty corpus")
      c ++ Array.fill(ksub - c.length)(c.last)
    }.toArray
    Codebook(m, ksub, dsub, cents)
  }

  /** Row-local PQ codes for a vector column — the one-pass
    * [[graft.plans.PqEncode]] kernel (per-subspace argmin, bit-equal
    * to composing [[Ann.clusterOf]] per subspace). */
  def encode(vecCol: Column, cb: Codebook): Column =
    ExpressionColumn(PqEncode(expression(vecCol), Literal(cb.flat), cb.m, cb.ksub))

  /** The persistable encoded artifact: (id, codes, norm). The norm
    * rides along so ADC inner products rank by approximate COSINE
    * (adc / (|q|·norm)), not raw dot — without it, long vectors would
    * crowd out near ones. */
  def encodeTable(embeddings: DataFrame, idCol: String, vecCol: String,
      cb: Codebook): DataFrame =
    embeddings.select(col(idCol),
      encode(col(vecCol), cb).as("pq_codes"),
      VectorFunctions.norm(col(vecCol)).as("vec_norm"))

  /** Query-side ADC table: table(j·ksub + c) = ⟨q_subspace_j, cent⟩.
    * Driver-side, m·ksub·dsub multiplies — metadata scale. */
  def adcTable(q: Array[Double], cb: Codebook): Array[Double] = {
    require(q.length == cb.dim, s"query dim ${q.length} != ${cb.dim}")
    val t = new Array[Double](cb.m * cb.ksub)
    for (j <- 0 until cb.m; c <- 0 until cb.ksub) {
      var s = 0.0
      var k = 0
      while (k < cb.dsub) { s += q(j * cb.dsub + k) * cb.cents(j)(c)(k); k += 1 }
      t(j * cb.ksub + c) = s
    }
    t
  }

  /** Approximate score column: Σⱼ table[j·ksub + codes[j]] — m table
    * lookups per row in the [[graft.plans.PqAdc]] kernel. */
  def adcScore(codesCol: Column, table: Array[Double], ksub: Int): Column =
    ExpressionColumn(PqAdc(expression(codesCol), Literal(table), ksub))

  /** Encoded artifact with the IVF cell id riding along — the IVF-PQ
    * layout: at scale the codes table is partitioned by `ivf_cell`
    * (ParquetSink.writeIvfPartitioned), so a probed ADC scan is a
    * partition-pruned read of compact codes. */
  def encodeTableWithCells(embeddings: DataFrame, idCol: String,
      vecCol: String, cb: Codebook,
      cents: Array[Array[Double]]): DataFrame =
    embeddings.select(col(idCol),
      Ann.clusterOf(col(vecCol), cents).as("ivf_cell"),
      encode(col(vecCol), cb).as("pq_codes"),
      VectorFunctions.norm(col(vecCol)).as("vec_norm"))

  /** IVF-PQ: the two prunings composed — probe the `nprobe` cells
    * nearest the query (coarse quantizer), ADC-score only the codes in
    * those cells, re-rank the survivors exactly. The scan cost is
    * (nprobe/k)·|corpus| rows × m table lookups over the compact codes
    * artifact; the raw vectors are touched only for rerank·k ids.
    *
    * SIZING RULE for `rerank` (r16, measured — ScaleBench recall
    * mode): the exact re-rank pool (rerank·k ADC candidates) must
    * COVER the query's near-tie population, because the m×ksub ADC
    * distance is too coarse to ORDER near-duplicates — it can only
    * find the cluster. On a corpus with ~F near-copies per vector,
    * recall@10 at x100 cell populations (~780/cell): rerank=4 →
    * 0.348, rerank=50 → 1.0, rerank=200 → 1.0, at flat wall time
    * (17.6 vs 19.0 s for the 40-query loop — exact-distance IVF = 1.0
    * throughout, so the collapse is purely ADC tie-ordering).
    * Size rerank ≳ expected duplicate-cluster size; the re-rank is a
    * broadcast-semi-join on rerank·k ids, so the cost grows linearly
    * and stays tiny relative to the probed ADC scan. */
  def ivfPqTopK(encoded: DataFrame, embeddings: DataFrame, query: DataFrame,
      idCol: String, vecCol: String, k: Int, cb: Codebook,
      cents: Array[Array[Double]], nprobe: Int,
      rerank: Int = 4): DataFrame = {
    val qRow = query
      .select(transform(col(vecCol), _.cast("double")).as("__q")).take(1)
    if (qRow.isEmpty || cents.isEmpty) // degenerate: nothing to probe
      return embeddings.select(col(idCol), lit(0.0).as("cos_sim")).limit(0)
    val q = qRow.head.getSeq[Double](0).toArray
    val probes = cents.zipWithIndex.map { case (c, i) =>
      var d = 0.0
      var t = 0
      while (t < math.min(c.length, q.length)) {
        val diff = q(t) - c(t); d += diff * diff; t += 1
      }
      (d, i)
    }.sortBy(identity).take(nprobe).map(_._2).toSeq
    val table = adcTable(q, cb)
    val qNorm = math.sqrt(q.map(x => x * x).sum)
    val cands = encoded
      .where(col("ivf_cell").isin(probes: _*))
      .withColumn("approx_sim",
        adcScore(col("pq_codes"), table, cb.ksub) / (col("vec_norm") * lit(qNorm)))
      .orderBy(desc("approx_sim"), col(idCol))
      .limit(rerank * k)
      .select(col(idCol))
    embeddings
      .join(broadcast(cands), Seq(idCol), "left_semi")
      .crossJoin(broadcast(query.select(col(vecCol).as("__qv"))))
      .withColumn("cos_sim", VectorFunctions.cosine(col(vecCol), col("__qv")))
      .select(col(idCol), col("cos_sim"))
      .orderBy(desc("cos_sim"), col(idCol))
      .limit(k)
  }

  /** ADC scan + exact re-rank: rank every encoded row by approximate
    * cosine (m lookups each), keep the top rerank·k candidates
    * (TakeOrderedAndProject — no global sort), fetch ONLY those ids'
    * raw vectors (broadcast semi-equi join), re-score exactly, emit
    * top-k. `query` stays a one-row frame; its vector is read
    * driver-side to build the table (metadata scale, the PQ analogue
    * of broadcasting it). */
  def pqTopK(encoded: DataFrame, embeddings: DataFrame, query: DataFrame,
      idCol: String, vecCol: String, k: Int, cb: Codebook,
      rerank: Int = 4): DataFrame = {
    val qRow = query
      .select(transform(col(vecCol), _.cast("double")).as("__q")).take(1)
    if (qRow.isEmpty) // degenerate: empty query frame → empty result
      return embeddings.select(col(idCol), lit(0.0).as("cos_sim")).limit(0)
    val q = qRow.head.getSeq[Double](0).toArray
    val table = adcTable(q, cb)
    val qNorm = math.sqrt(q.map(x => x * x).sum)
    val cands = encoded
      .withColumn("approx_sim",
        adcScore(col("pq_codes"), table, cb.ksub) / (col("vec_norm") * lit(qNorm)))
      .orderBy(desc("approx_sim"), col(idCol))
      .limit(rerank * k)
      .select(col(idCol))
    embeddings
      .join(broadcast(cands), Seq(idCol), "left_semi")
      .crossJoin(broadcast(query.select(col(vecCol).as("__qv"))))
      .withColumn("cos_sim", VectorFunctions.cosine(col(vecCol), col("__qv")))
      .select(col(idCol), col("cos_sim"))
      .orderBy(desc("cos_sim"), col(idCol))
      .limit(k)
  }
}
