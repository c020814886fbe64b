package graft.operators

import org.apache.spark.sql.{DataFrame, ExpressionColumn}
import org.apache.spark.sql.ExpressionColumn.expression
import org.apache.spark.sql.catalyst.expressions.Literal
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.TextFunctions
import graft.plans.{ChunkHashesExpr, DropTokenSpansExpr, ShingleHashes, TokenHashesExpr, WindowHashes}

/** Exact + n-gram-Jaccard document deduplication.
  *
  * Scale design: exact dedup is one hash shuffle on md5(normalized
  * text). Jaccard pairing is BLOCKED (within a blocking key such as
  * `source`) — pairwise comparison only ever happens inside a block,
  * never as a corpus-wide crossJoin; for unblocked corpora use
  * [[MinHashLSH]], whose bands provide the blocks. Candidate buckets
  * are additionally PREFIX-FILTERED (Chaudhuri/Ganti/Kaushik ICDE'06,
  * Bayardo et al. WWW'07): each doc indexes only its
  * |S| − ⌈t·|S|⌉ + 1 globally-rarest shingles, which is recall-exact
  * for Jaccard ≥ t and deletes hot-shingle buckets (a stopword
  * trigram shared by 10⁶ docs sorts last in the frequency order and
  * lands in nobody's prefix).
  */
object TextDedup {

  /** Group identical (normalized) texts; keep the smallest id.
    * Returns (text_hash, keep_<id>, n_copies). */
  def exact(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs
      .select(col(idCol),
        md5(TextFunctions.normalizeText(col(textCol))).as("text_hash"))
      .groupBy("text_hash")
      .agg(min(col(idCol)).as(s"keep_$idCol"), count(lit(1)).as("n_copies"))

  /** Word n-gram shingles (distinct), lowercase-normalized. Shorter
    * texts yield their full token run as a single shingle. */
  def shingles(textCol: org.apache.spark.sql.Column, n: Int = 3): org.apache.spark.sql.Column = {
    val toks = TextFunctions.tokens(textCol)
    array_distinct(transform(
      sequence(lit(0), greatest(size(toks) - n, lit(0))),
      i => concat_ws(" ", slice(toks, i + 1, lit(n)))))
  }

  /** Distinct 64-bit shingle hashes: the one-pass
    * [[graft.plans.HashKernels.shingleHashes]] mix over each n-window
    * of token hashes — one value per distinct positional n-gram, no
    * per-shingle string. The token hashes are bit-identical to `transform(tokens, xxhash64)`. */
  def shingleHashes64(textCol: org.apache.spark.sql.Column, n: Int): org.apache.spark.sql.Column =
    ExpressionColumn(ShingleHashes(TokenHashesExpr(expression(textCol)), Literal(n)))

  /** Benchmark decontamination: flag corpus docs sharing ≥ `minOverlap`
    * distinct n-gram shingles with ANY benchmark doc — the eval-set
    * leak check every training corpus runs before release. The
    * benchmark's distinct shingle set is tiny next to the corpus
    * (eval suites are thousands of docs, the corpus billions), so it
    * BROADCASTS: the corpus postings probe it in a broadcast hash
    * join with zero corpus shuffle, the per-doc overlap count is a
    * map-side-combinable groupBy on the doc id, and clean docs (the
    * overwhelming majority) never enter the aggregate at all — they
    * re-join with overlap 0 via the final left join. */
  def decontaminate(corpus: DataFrame, idCol: String, textCol: String,
      bench: DataFrame, benchTextCol: String, n: Int = 3,
      minOverlap: Int = 1): DataFrame = {
    require(minOverlap >= 1, s"minOverlap must be >= 1, got $minOverlap")
    val benchSh = bench
      .select(explode(shingleHashes64(col(benchTextCol), n)).as("sh"))
      .distinct()
    val docSh = corpus.select(col(idCol).as("__id"),
      explode(shingleHashes64(col(textCol), n)).as("sh"))
    val overlaps = docSh.join(broadcast(benchSh), "sh")
      .groupBy("__id").agg(count(lit(1)).as("n_overlap"))
    corpus.join(overlaps, corpus(idCol) === overlaps("__id"), "left")
      .withColumn("n_overlap", coalesce(col("n_overlap"), lit(0L)))
      .withColumn("is_contaminated", col("n_overlap") >= minOverlap)
      .drop("__id")
  }

  /** Sub-document SPAN dedup (the C4 / Lee et al. 2022 granularity):
    * split every document into fixed `chunkTokens`-token chunks, keep
    * only the globally FIRST occurrence of each distinct chunk (first
    * = smallest (id, position) — deterministic and re-run stable), and
    * reassemble each document from its surviving chunks in original
    * order. Whole-document dedup (exact / MinHash / SimHash) cannot
    * touch boilerplate repeated ACROSS otherwise-distinct documents —
    * headers, license banners, navigation chrome — which is exactly
    * the mass that repeats millions of times in a web corpus; span
    * dedup removes every copy but the first while leaving the
    * surrounding unique text intact.
    *
    * Scale shape: nothing pairwise. Survivor selection is a groupBy-min
    * on the 64-bit chunk hash (map-side combinable — a chunk repeated
    * 10⁶ times leaves each map task as ONE row) + a join-back that AQE
    * can skew-split, deliberately NOT a row_number window (a window
    * partition on a hot boilerplate chunk is a straggler cliff the
    * optimizer cannot split — same argument as [[prefixIndex]]'s
    * dfreq). Reassembly is one exchange on the doc id. Chunks are
    * carried once as strings (for rebuild) and joined on xxhash64
    * (collision odds ~|chunks|²/2⁶⁵ — the [[shingleHashes64]]
    * precedent).
    *
    * Returns (id, text [surviving chunks re-joined], n_chunks_kept,
    * n_chunks_total); a document whose every chunk appeared earlier
    * comes back with empty text and n_chunks_kept = 0 — filter
    * downstream, the row is the audit record. Chunking is positional,
    * so the operator is NOT idempotent across re-application (removing
    * a span shifts later chunk boundaries); run it once per corpus
    * snapshot, like the reference's per-batch dedup. */
  def chunkDedup(docs: DataFrame, idCol: String, textCol: String,
      chunkTokens: Int = 10): DataFrame =
    chunkDedupAgainst(docs, idCol, textCol, chunkTokens, prior = null)

  /** The NARROW (id, pos, chunk_hash) frame [[chunkDedup]] dedups over
    * — chunk strings are built and hashed inside the projection
    * (xxhash64 over the chunk text, the store contract) and never
    * leave the row, so no shuffle in the dedup pipeline ever carries
    * document text. Shared by the batch operator, [[chunkHashes]] and
    * the streaming fold. */
  private[graft] def chunkHashExplode(docs: DataFrame, idCol: String,
      textCol: String, chunkTokens: Int): DataFrame = {
    require(chunkTokens >= 1, s"chunkTokens must be >= 1, got $chunkTokens")
    // chunk_hashes is xxhash64 of each chunk's string, bit for bit,
    // without materializing the chunk strings
    val hashes = ExpressionColumn(
      ChunkHashesExpr(expression(col(textCol)), Literal(chunkTokens)))
    docs.select(col(idCol).as("__id"),
      posexplode(hashes).as(Seq("pos", "__h")))
  }

  /** Distinct (chunk_hash, doc_id) of `docs` — doc_id the smallest id
    * carrying the hash; the batch contribution to a persisted
    * chunk-hash store ([[graft.streaming.StreamingDedup]]'s
    * continuous fold). */
  def chunkHashes(docs: DataFrame, idCol: String, textCol: String,
      chunkTokens: Int = 10): DataFrame =
    chunkHashExplode(docs, idCol, textCol, chunkTokens)
      .groupBy(col("__h").as("chunk_hash"))
      .agg(min(col("__id")).as("doc_id"))

  /** [[chunkDedup]] with an optional PRIOR chunk-hash frame (column
    * `chunk_hash`): a chunk is kept iff it is the batch's first
    * occurrence AND its hash is absent from `prior` — the incremental
    * form (prior = everything earlier batches kept or saw; null =
    * plain whole-corpus dedup). The prior join is a hash-equi left
    * join flagging seen chunks; rows are never dropped (the reassembly
    * needs every chunk for n_chunks_total).
    *
    * Plan shape (r9 rework): all dedup logic runs on the NARROW
    * (id, pos, hash) frame — 20-byte rows, no document text. The
    * survivor groupBy keeps only DUPLICATED hashes (count > 1), so
    * the occurrence probe's build side is the boilerplate set, not
    * every distinct chunk — tiny on real corpora, and AQE converts
    * the probe to a broadcast join at runtime when it is. Unique
    * chunks (the overwhelming mass) flow through a single left join
    * against that small set and are never touched again; documents
    * are rebuilt ROW-LOCALLY from their drop-position lists (the
    * [[substringDedup]] rebuild), so the text column crosses at most
    * the one docs↔dropPos exchange instead of two full-width chunk
    * shuffles plus a collect_list reassembly. Assumes `idCol` values
    * are unique (the streaming fold dropDuplicates first).
    *
    * The narrow frame is NOT cached (r9): both consumers re-run the
    * hash explode, one codegen'd pass over the scan — measured
    * cheaper than materializing the per-chunk frame into the cache,
    * and it leaves no release obligation on library callers. */
  def chunkDedupAgainst(docs: DataFrame, idCol: String, textCol: String,
      chunkTokens: Int, prior: DataFrame): DataFrame =
    // a dropped chunk i is exactly the token range
    // [i·chunkTokens, i·chunkTokens + chunkTokens), so the rebuild is
    // the drop_token_spans kernel — one coverage pass, no chunk strings
    // materialized at all (chunks are contiguous tokens re-joined with " ")
    chunkDrops(docs, idCol, textCol, chunkTokens, prior)
      .withColumn("__rb", ExpressionColumn(DropTokenSpansExpr(
        expression(col("__text")),
        expression(transform(col("__drops"), p => p * chunkTokens)),
        Literal(chunkTokens))))
      .select(col(idCol),
        col("__rb.text").as(textCol),
        (ceil(col("__rb.n_total").cast("double") / chunkTokens).cast("long")
          - size(col("__drops")).cast("long")).as("n_chunks_kept"),
        ceil(col("__rb.n_total").cast("double") / chunkTokens).cast("long")
          .as("n_chunks_total"))

  /** (id, __drops, __text): each doc with the sorted positions of its
    * dropped chunk occurrences — [[chunkDedupAgainst]]'s input to the
    * rebuild. */
  private[graft] def chunkDrops(docs: DataFrame, idCol: String,
      textCol: String, chunkTokens: Int, prior: DataFrame): DataFrame = {
    def narrow = chunkHashExplode(docs, idCol, textCol, chunkTokens)
    // only duplicated hashes can drop an occurrence — cnt > 1 shrinks
    // the probe's build side to the repeated-chunk set
    val dupFirsts = narrow.groupBy("__h")
      .agg(min(struct(col("__id"), col("pos"))).as("__first"),
        count(lit(1)).as("__cnt"))
      .where(col("__cnt") > 1)
      .select("__h", "__first")
    val flagged =
      if (prior == null)
        narrow.join(dupFirsts, Seq("__h"), "left")
          .withColumn("__seen", lit(false))
      else
        narrow.join(dupFirsts, Seq("__h"), "left")
          .join(prior.select(col("chunk_hash").as("__h")).distinct()
            .withColumn("__s", lit(true)), Seq("__h"), "left")
          .withColumn("__seen", coalesce(col("__s"), lit(false)))
          .drop("__s")
    // dropped occurrences: later copy of a duplicated hash, or seen in
    // prior; one compact sorted position list per affected doc
    val dropPos = flagged
      .where(col("__seen") ||
        (col("__first").isNotNull &&
          struct(col("__id"), col("pos")) =!= col("__first")))
      .groupBy("__id")
      .agg(sort_array(collect_list(col("pos"))).as("__drops"))
    docs
      .join(dropPos, docs(idCol) === dropPos("__id"), "left")
      .select(col(idCol),
        coalesce(col("__drops"), array().cast("array<int>")).as("__drops"),
        col(textCol).as("__text"))
  }

  /** ANY-ALIGNMENT exact-substring dedup (Lee et al. 2022's actual
    * semantic, which [[chunkDedup]] deliberately approximates with
    * fixed boundaries): every `spanTokens`-token SLIDING window
    * (stride 1) is hashed; a window occurrence that is not the
    * globally-first occurrence of its hash (min (id, pos)) marks its
    * token range as duplicated, and each document is rebuilt from the
    * tokens OUTSIDE the union of its duplicated ranges. Fixed-boundary
    * chunking misses a repeated passage whenever its alignment shifts
    * between documents (a banner inserted after k leading tokens lands
    * in different chunks for different k); sliding windows catch every
    * alignment, including intra-document self-repetition.
    *
    * Scale shape: the window frame is n_tokens rows per doc (stride 1
    * is the linear cost this operator deliberately pays for exactness
    * — span-granular recall with no alignment assumption); survivor
    * selection is the [[chunkDedup]] groupBy-min + join-back (map-side
    * combinable, AQE-skew-splittable, no hot-window partition);
    * duplicated positions collapse to ONE doc-sized array row each
    * (bounded by the doc's own token count — the same bound as the
    * text column itself), and the rebuild is a row-local kernel pass.
    * Returns (id, text, n_tokens_kept, n_tokens_total). Like
    * [[chunkDedup]], run once per corpus snapshot (coverage is defined
    * against the input's occurrence order). Documents shorter than
    * `spanTokens` carry no windows and pass through whole. */
  def substringDedup(docs: DataFrame, idCol: String, textCol: String,
      spanTokens: Int = 50): DataFrame =
    substringDedupImpl(docs, idCol, textCol, spanTokens, prior = null)

  /** [[substringDedup]] against a PRIOR window-hash store (column
    * `window_hash`) — the incremental/streaming form. [[windowHashes]]
    * stamps each store row with a `hash_flavor` column ("native": the
    * [[graft.plans.HashKernels.windowHashes]] kernel's values). Older builds could also write
    * "string" stores, whose per-window string hashes this build never
    * computes, so this method FAILS FAST on any other flavor (a store
    * without the column — written before the marker existed — is
    * accepted as-is). The chunk store needs no marker: its hashes are
    * xxhash64 of the chunk strings under every build. */
  def substringDedupAgainst(docs: DataFrame, idCol: String,
      textCol: String, spanTokens: Int, prior: DataFrame): DataFrame = {
    checkWindowHashFlavor(prior)
    substringDedupImpl(docs, idCol, textCol, spanTokens, prior)
  }

  /** The flavor tag [[windowHashes]] stamps into a persisted store. */
  private[graft] val WindowHashFlavor = "native"

  /** Fail fast when a prior window-hash store was written under another
    * hash path — mixed flavors would silently match nothing and keep
    * every duplicate. Bounded driver work: the distinct of a constant
    * column (≤ 2 values). NULL flavors are legacy rows (files written
    * before the marker existed, surfaced as nulls by a mergeSchema read
    * of a mixed store) and are accepted as-is — the same grandfathering
    * as a store with no marker column at all. Callers reading a store
    * that may mix legacy and stamped files should read with
    * mergeSchema=true, else parquet picks ONE file's schema and the
    * marker can silently vanish ([[graft.streaming.StreamingDedup]]
    * does). */
  private[graft] def checkWindowHashFlavor(prior: DataFrame): Unit =
    if (prior != null && prior.columns.contains("hash_flavor")) {
      val stored = prior.select("hash_flavor")
        .where(col("hash_flavor").isNotNull).distinct()
        .collect().map(_.getString(0)).toSet
      if (!stored.subsetOf(Set(WindowHashFlavor)))
        throw new IllegalStateException(
          s"window-hash store flavor mismatch: store written under " +
            s"[${stored.mkString(", ")}], graft computes " +
            s"'$WindowHashFlavor' hashes — dedup against this store " +
            "would match nothing. Rebuild the store.")
    }

  /** The positional (id, pos, window-hash) frame [[substringDedup]]
    * dedups over — shared with the streaming fold's store
    * contribution. The codegen'd one-pass
    * [[graft.plans.HashKernels.windowHashes]] kernel over
    * token hashes; a doc shorter than the span carries no windows. */
  private[graft] def windowExplode(docs: DataFrame, idCol: String,
      textCol: String, spanTokens: Int): DataFrame = {
    require(spanTokens >= 1, s"spanTokens must be >= 1, got $spanTokens")
    val winHashes = ExpressionColumn(WindowHashes(
      TokenHashesExpr(expression(col(textCol))), Literal(spanTokens)))
    docs.select(col(idCol).as("__id"),
      posexplode(winHashes).as(Seq("pos", "__h")))
  }

  /** Distinct (window_hash, doc_id, hash_flavor) of `docs` — the batch
    * contribution to a persisted window-hash store (the
    * [[chunkHashes]] twin for the sliding-window family). The constant
    * `hash_flavor` column records which hash path wrote the store so
    * [[substringDedupAgainst]] can fail fast instead of silently
    * matching nothing under another flavor. */
  def windowHashes(docs: DataFrame, idCol: String, textCol: String,
      spanTokens: Int = 50): DataFrame =
    windowExplode(docs, idCol, textCol, spanTokens)
      .groupBy(col("__h").as("window_hash"))
      .agg(min(col("__id")).as("doc_id"))
      .withColumn("hash_flavor", lit(WindowHashFlavor))

  /** `prior` (column `window_hash`, optional) marks a window duplicated
    * even when it is the batch's first occurrence — the incremental
    * form ([[chunkDedupAgainst]]'s contract applied to sliding
    * windows). The rebuild is one drop_token_spans coverage pass over
    * the token array. */
  private def substringDedupImpl(docs: DataFrame, idCol: String,
      textCol: String, spanTokens: Int, prior: DataFrame): DataFrame =
    windowDups(docs, idCol, textCol,
        windowExplode(docs, idCol, textCol, spanTokens), prior)
      .withColumn("__rb", ExpressionColumn(DropTokenSpansExpr(
        expression(col("__text")), expression(col("__dups")),
        Literal(spanTokens))))
      .select(col(idCol),
        col("__rb.text").as(textCol),
        col("__rb.n_kept").as("n_tokens_kept"),
        col("__rb.n_total").as("n_tokens_total"))

  /** (id, __dups, __text): each doc with the sorted start positions of
    * its duplicated window occurrences in `windows` (an
    * (__id, pos, __h) frame, evaluated once per consumer). */
  private[graft] def windowDups(docs: DataFrame, idCol: String,
      textCol: String, windows: => DataFrame, prior: DataFrame): DataFrame = {
    // the window frame is NOT cached: its two consumers re-run the
    // explode, which is one codegen'd kernel pass over the scan —
    // measured cheaper than writing the n_tokens-per-doc narrow frame
    // into the cache (0.26 s recompute vs ~0.4 s persist at sf0.1,
    // and at 100 TB the cache write is a full extra materialization).
    // A single-explode ANALYTIC form (min/count OVER (PARTITION BY
    // __h) instead of groupBy+join-back) was measured r10 at 1.47 s →
    // 1.09 s on q84's shape and REJECTED anyway: partitionBy(__h)
    // lands every occurrence of a hot hash on ONE reducer — a
    // boilerplate window repeated across a 100 TB crawl is exactly
    // such a key — while the groupBy form partial-aggregates it
    // map-side and broadcasts the (tiny) duplicated-hash set. The
    // second explode is the price of skew immunity; the 30× amplified
    // sweep (q84 2.8×, q67 2.6× — sub-linear) shows it amortizing.
    //
    // only DUPLICATED hashes can mark a range (cnt > 1), so the probe's
    // build side is the repeated-window set — tiny on real corpora, and
    // AQE broadcasts the join at runtime when it is (the r9 chunkDedup
    // rework applied to sliding windows; unique windows, the
    // overwhelming mass, flow through one left join untouched)
    val dupFirsts = windows.groupBy("__h")
      .agg(min(struct(col("__id"), col("pos"))).as("__first"),
        count(lit(1)).as("__cnt"))
      .where(col("__cnt") > 1)
      .select("__h", "__first")
    val flagged =
      if (prior == null)
        windows.join(dupFirsts, Seq("__h"), "left")
          .withColumn("__seen", lit(false))
      else
        windows.join(dupFirsts, Seq("__h"), "left")
          .join(prior.select(col("window_hash").as("__h")).distinct()
            .withColumn("__s", lit(true)), Seq("__h"), "left")
          .withColumn("__seen", coalesce(col("__s"), lit(false)))
          .drop("__s")
    val dupPos = flagged
      .where(col("__seen") ||
        (col("__first").isNotNull &&
          struct(col("__id"), col("pos")) =!= col("__first")))
      .groupBy("__id")
      .agg(sort_array(collect_list(col("pos"))).as("__dups"))
    docs
      .join(dupPos, docs(idCol) === dupPos("__id"), "left")
      .select(col(idCol),
        coalesce(col("__dups"), array().cast("array<int>")).as("__dups"),
        col(textCol).as("__text"))
  }

  /** Prefix-filtered postings: (doc, block, sz, sh), keeping per doc
    * only its |S| − ⌈t·|S|⌉ + 1 rarest shingles under the global
    * (block-local) order (document frequency asc, hash asc).
    *
    * Recall-exactness (prefix-filtering principle): under ANY total
    * order, if |A∩B| ≥ ⌈t·max(|A|,|B|)⌉ — implied by J(A,B) ≥ t —
    * then the (|X| − ⌈t·|X|⌉ + 1)-prefixes of A and B share at least
    * one element; otherwise every common element would lie past one
    * prefix end, capping the intersection at ⌈t·|X|⌉ − 1. Ordering by
    * document frequency makes the surviving buckets the RARE-shingle
    * ones. Ranking runs over the FULL universe — a doc's singleton
    * shingles sort first and soak up its prefix slots, keeping hot
    * shingles out (dropping singletons before ranking would backfire:
    * docs whose rare shingles are all unique would fill their prefix
    * with the hot ones). Singletons are dropped AFTER prefix
    * selection instead — they cannot be shared, so removing them is
    * recall-free and spares the bucket shuffle. */
  private[graft] def prefixIndex(base: DataFrame, minJaccard: Double): DataFrame = {
    val postings = base.select(col("doc"), col("block"), col("sz"),
      explode(col("shs")).as("sh"))
    // dfreq deliberately uses groupBy + join-back, NOT a
    // whole-partition window count: the window formulation saves one
    // shuffle locally but puts every posting of a hot shingle in ONE
    // window partition, and AQE splits skewed JOIN partitions, not
    // skewed WINDOW partitions — on the boilerplate corpora this
    // operator defends against, that is a straggler cliff. The
    // groupBy combines map-side (hot shingle → one row per map task)
    // and the join-back is AQE-skew-splittable.
    val dfreq = postings.groupBy("block", "sh")
      .agg(count(lit(1)).as("dfreq"))
    val rk = row_number().over(
      Window.partitionBy("doc").orderBy(col("dfreq"), col("sh")))
    postings.join(dfreq, Seq("block", "sh"))
      .withColumn("rk", rk)
      .where(col("rk") <= col("sz") - ceil(lit(minJaccard) * col("sz")) + 1)
      .where(col("dfreq") > 1)
      .select("doc", "block", "sz", "sh")
  }

  /** Exact n-gram Jaccard ≥ minJaccard for all pairs INSIDE a blocking
    * key: prefix-filtered postings → (block, shingle) buckets → ordered
    * pair expansion with a length filter (J ≥ t forces
    * |A| ≥ t·|B|) → exact verify via `array_intersect` on the full
    * per-doc shingle-hash arrays (bucket counts under-count the
    * intersection once prefixes are indexed, so verification reads the
    * persisted arrays instead). Cost is Σ_block Σ_rare-shingle
    * C(bucket,2) — hot shingles sort out of every prefix, so no
    * unbounded bucket rows — plus two hash joins for the (small)
    * verified candidate set; never |corpus|². Shingles are carried as
    * 64-bit hashes (collision odds ~|S|²/2⁶⁵ — negligible against the
    * exact-string semantics the oracle computes). The returned plan
    * references a persisted shingle frame (shared by the candidate and
    * verify stages — recomputing it would double the scan); it stays
    * cached for the frame's lifetime, sized MEMORY_AND_DISK so
    * pressure evicts it; long-lived sessions can clearCache(). */
  def blockedJaccardPairs(docs: DataFrame, idCol: String, textCol: String,
      blockCol: String, n: Int = 3, minJaccard: Double = 0.0): DataFrame = {
    val base = CacheRegistry.persist( // shared by candidate + verify stages
      docs.select(col(idCol).as("doc"), col(blockCol).as("block"),
          shingleHashes64(col(textCol), n).as("shs"))
        .withColumn("sz", size(col("shs")).cast("long")))
    pairsFromBase(base, minJaccard)
  }

  /** Candidate + verify pipeline over an already-materialized shingle
    * frame (doc, block, sz, shs) — shared bit-for-bit by
    * [[blockedJaccardPairs]] (in-session frame) and
    * [[PostingsArtifact]] (persisted parquet frame), so the
    * artifact-backed path provably returns the same pairs. `sinceId`
    * (doc ids strictly above it) narrows to pairs TOUCHING a new doc —
    * the daily-batch shape; the prefix ranking still runs over the
    * FULL frame (document frequencies are corpus-global, so re-ranking
    * over all postings is what keeps the filter recall-exact as the
    * corpus grows), but pair expansion, the distinct shuffle, and the
    * verify joins all see only the batch. */
  private[graft] def pairsFromBase(base: DataFrame, minJaccard: Double,
      sinceId: Long = Long.MinValue): DataFrame = {
    val buckets = prefixIndex(base, minJaccard)
      .groupBy("block", "sh")
      .agg(sort_array(collect_list(struct(col("doc"), col("sz")))).as("ds"))
      .where(size(col("ds")) > 1)
    // ordered pairs (ds[i], ds[j]) for i<j — ds is a plain attribute,
    // so referencing it inside the lambdas is allocation-free
    val pairCombos = flatten(transform(
      sequence(lit(0), size(col("ds")) - 2),
      i => transform(
        slice(col("ds"), i + 2, size(col("ds")) - i - 1),
        d => struct(
          element_at(col("ds"), i + 1).getField("doc").as("doc_a"),
          element_at(col("ds"), i + 1).getField("sz").as("sz_a"),
          d.getField("doc").as("doc_b"),
          d.getField("sz").as("sz_b")))))
    val raw = buckets.select(explode(pairCombos).as("p"))
      // length filter: size-incompatible pairs die BEFORE the distinct
      // shuffle and the verify joins.
      .where(least(col("p.sz_a"), col("p.sz_b")) >=
        lit(minJaccard) * greatest(col("p.sz_a"), col("p.sz_b")))
      .select(col("p.doc_a").as("doc_a"), col("p.doc_b").as("doc_b"))
    // batch scoping sits BEFORE the distinct shuffle and the verify
    // joins; skipped entirely (no always-true filter polluting golden
    // plans) for full-corpus runs
    val cands = (if (sinceId == Long.MinValue) raw
      else raw.where(col("doc_a") > sinceId || col("doc_b") > sinceId))
      .distinct()
    cands
      .join(base.select(col("doc").as("doc_a"), col("shs").as("shs_a"),
        col("sz").as("sz_a")), "doc_a")
      .join(base.select(col("doc").as("doc_b"), col("shs").as("shs_b"),
        col("sz").as("sz_b")), "doc_b")
      .withColumn("n_inter",
        size(array_intersect(col("shs_a"), col("shs_b"))).cast("long"))
      .withColumn("jaccard",
        col("n_inter").cast("double") /
          (col("sz_a") + col("sz_b") - col("n_inter")).cast("double"))
      .where(col("jaccard") >= minJaccard)
      .select("doc_a", "doc_b", "jaccard")
  }
}
