package graft

/** Per-round benchmark: runs every registered query on
  * SPARK_GRAFT_SF_DIR, one JSON line on stdout. Failures are reported as
  * explicit error markers (negative sentinel + errors map) — never
  * silently timed as success (VERDICT r1 item 10). */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession.create()
    // Optional comma-separated subset for focused iteration runs.
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY")
      .map(_.split(",").map(_.trim).toSet)
    // `*_portable` twins are correctness artifacts (md5-based hashing
    // an oracle engine can replay) of the native-hash operators already
    // benchmarked under their primary keys — not production paths.
    val queries = SparkEntry.queries
      .filter { case (name, _) => !name.endsWith("_portable") }
      .filter { case (name, _) => only.forall(_.contains(name)) }

    // Warm JIT/codegen per query plan on the smallest SF so timed runs
    // measure steady-state data processing (as on a long-lived cluster),
    // not first-run classloading/codegen compilation.
    queries.foreach { case (_, fn) =>
      try fn(spark, "/root/testdata/sf0.001")
        .write.mode("overwrite").format("noop").save()
      catch { case _: Throwable => () }
    }

    // Fixed-cost probe timed before and after the query loop: its work
    // is data-independent (a codegen'd scan-agg over range(40M)), so a
    // drift ratio far from 1.0 marks a contended measurement window —
    // the run self-diagnoses instead of looking like a query
    // regression. (Round 6's driver window showed 4–80× inflation on
    // trivial queries; this field makes that failure mode visible.)
    def probeSec(): Double = {
      def one(): Double = {
        val t0 = System.nanoTime()
        // bit_xor, not sum: full-range hash values overflow a long sum
        // under ANSI semantics
        spark.range(40000000L)
          .selectExpr("bit_xor(xxhash64(id))").head()
        (System.nanoTime() - t0) / 1e9
      }
      // min of 3: a single ~0.15 s job jitters ±2× from scheduling/GC
      // alone, which made the drift gate flag every window (r9); the
      // floor of three is stable unless contention is SUSTAINED —
      // which is exactly what the gate exists to detect
      Seq(one(), one(), one()).min
    }
    probeSec() // JIT/codegen warm
    val probeFirst = probeSec()

    val reps = sys.env.getOrElse("SPARK_GRAFT_BENCH_REPS", "2").toInt
    val sorted = queries.toSeq.sortBy(_._1)

    case class Attempt(results: Seq[(String, Double)],
        errors: Map[String, String], probeFirst: Double,
        probeMid: Double, probeLast: Double) {
      def drift: Double = if (probeFirst > 0) probeLast / probeFirst else 1.0
    }
    def runAttempt(): Attempt = {
      // per-attempt error map: a transient failure in a discarded
      // attempt must not count against the reported clean one
      var errors = Map.empty[String, String]
      val pf = probeSec()
      // a third probe at the loop's midpoint brackets WHERE in the run
      // a contended window began, not just that one occurred
      var pm = -1.0
      val rs = sorted.zipWithIndex.map { case ((name, fn), qi) =>
        if (qi == sorted.length / 2) pm = probeSec()
        // min over reps: queries are idempotent reads; min is the
        // standard steady-state estimator under scheduler noise. The
        // library's registered caches are released per rep so persisted
        // QUERY intermediates (LSH signatures, shingle frames) are
        // recomputed — every rep pays the query's full cost. Pretrained
        // per-corpus artifacts (PQ code frames, centroids, stop lists,
        // the LSH parquet artifact) survive by design: their lifetime is
        // the corpus, not the query.
        val times = (1 to reps).map { _ =>
          graft.operators.CacheRegistry.releaseAll()
          val t0 = System.nanoTime()
          val ok =
            // noop sink, NOT count() (r9): under count, Catalyst
            // eliminates cardinality-preserving work — a left join on
            // a grouped-unique key prunes to nothing, map-only score
            // columns prune out, sorts drop — so several queries
            // benched as a bare parquet count (q84's x30 amplification
            // ran FLAT, which is how this surfaced). The noop sink
            // consumes every output row and column, matching what the
            // DuckDB baseline's fetchall() pays.
            try { fn(spark, sfDir)
              .write.mode("overwrite").format("noop").save(); true }
            catch {
              case e: Throwable =>
                errors += name -> e.getClass.getSimpleName; false
            }
          if (ok) (System.nanoTime() - t0) / 1e9 else -1.0
        }
        name -> (if (times.exists(_ >= 0)) times.filter(_ >= 0).min else -1.0)
      }
      Attempt(rs, errors, pf, pm, probeSec())
    }

    // Clean-window discipline (VERDICT r7 item 8): a drift far from
    // 1.0 marks a CHANGING-contention window; re-run the whole loop
    // (up to maxAttempts) while drift ≥ the bar. Reported per-query
    // times are the MIN over every rep of EVERY attempt — min is the
    // steady-state estimator for idempotent reads, and pooling
    // attempts also defuses the uniformly-loaded window that drift
    // alone cannot detect (constant background load shows drift ≈ 1
    // with inflated absolutes; another attempt's quieter moment wins
    // the min). Every attempt's drift is kept so a contended run is
    // visibly flagged rather than silently trusted; the probe fields
    // come from the lowest-drift attempt.
    // 6 attempts by default (r9): the committed per-round artifact
    // should itself come from a clean window, and r8's 3-attempt runs
    // repeatedly exhausted the budget on contended evenings while the
    // while-loop stops early the moment one attempt lands clean
    val driftBar = sys.env.getOrElse("SPARK_GRAFT_DRIFT_BAR", "1.3").toDouble
    val maxAttempts = sys.env.getOrElse("SPARK_GRAFT_BENCH_ATTEMPTS", "6").toInt
    // ALWAYS pool ≥3 attempts (r9): the CPU probe cannot sense
    // IO-side slowness (cold page cache, hypervisor IO theft), which
    // measured 2–4× swings on this host with drift flat at 1.0 — the
    // pooled minimum across attempts is the only defense the bench
    // has against an unflagged bad window
    val minAttempts = math.min(
      sys.env.getOrElse("SPARK_GRAFT_BENCH_MIN_ATTEMPTS", "3").toInt,
      maxAttempts)
    var attempts = List(runAttempt())
    while (attempts.length < minAttempts ||
        (attempts.head.drift >= driftBar && attempts.length < maxAttempts))
      attempts ::= runAttempt()
    val cleanest = attempts.minBy(_.drift)
    val pooled = sorted.map { case (name, _) =>
      val obs = attempts.flatMap(_.results.collect {
        case (`name`, v) if v >= 0 => v
      })
      name -> (if (obs.nonEmpty) obs.min else -1.0)
    }
    // a query counts as failed only if NO attempt completed it
    val errs = attempts.map(_.errors).reduce(_ ++ _)
      .filter { case (name, _) => pooled.exists(p => p._1 == name && p._2 < 0) }
    // 0.1 ms resolution: full-precision doubles made the line long
    // enough that tail-limited readers lost the leading queries in
    // round-over-round diffs (r15 housekeeping); 4 decimals is far
    // below measurement noise
    def r4(v: Double): Double = math.round(v * 10000) / 10000.0
    val qs = pooled.map { case (k, v) => "\"" + k + "\":" + r4(v) }
      .mkString("{", ",", "}")
    val errJson = errs.toSeq.sortBy(_._1)
      .map { case (k, v) => "\"" + k + "\":\"" + v + "\"" }
      .mkString("{", ",", "}")
    val total = r4(pooled.collect { case (_, v) if v >= 0 => v }.sum)
    val allDrifts = attempts.reverse.map(a => r4(a.drift)).mkString("[", ",", "]")
    println(s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,"errors":$errJson,"n_err":${errs.size},"probe_first_sec":${r4(cleanest.probeFirst)},"probe_mid_sec":${r4(cleanest.probeMid)},"probe_last_sec":${r4(cleanest.probeLast)},"probe_drift":${r4(cleanest.drift)},"attempts":${attempts.length},"attempt_drifts":$allDrifts,"sf":"$sfDir"}""")
    spark.stop()
  }
}
