package perfbench

import org.apache.spark.sql.SparkSession

/** Per-layer metrics of a traced run, every one per op unless its name
  * says otherwise. Layers a workload does not exercise report 0. */
object Layer {
  val CorpusStages = Seq("exact", "minhash", "clusters", "simhash", "decontam", "write")

  /** Every per-layer metric name with its unit, in output order. */
  val names: Seq[(String, String)] = Seq(
    "spark.jobs_per_op" -> "count", "spark.stages_per_op" -> "count",
    "spark.tasks_per_op" -> "count", "spark.job_floor_ms" -> "ms",
    "spark.task_cpu_s" -> "s", "spark.gc_s" -> "s",
    "spark.core_busy_ratio" -> "ratio",
    "spark.shuffle_read_bytes" -> "B", "spark.shuffle_write_bytes" -> "B",
    "spark.spill_bytes" -> "B", "spark.scan_bytes" -> "B",
    "spark.scan_rows" -> "count", "spark.scan_files" -> "count",
    "sources.fetch_calls" -> "count", "sources.fetch_s" -> "s",
    "sources.jobs" -> "count", "sources.job_s" -> "s",
    "sources.bytes_written" -> "B", "sources.files_written" -> "count",
    "etl.jobs" -> "count", "etl.job_s" -> "s", "etl.driver_s" -> "s",
    "etl.control_files" -> "count", "etl.shuffle_bytes" -> "B",
    "etl.target_rewrite_ratio" -> "ratio") ++
    CorpusStages.map(s => s"corpus.${s}_s" -> "s") ++ Seq(
    "corpus.candidate_pairs" -> "count", "corpus.verified_pairs" -> "count",
    "corpus.pair_yield" -> "ratio", "corpus.shuffle_bytes" -> "B",
    "corpus.spill_bytes" -> "B",
    "plans.native" -> "bool", "plans.corpus_task_cpu_s" -> "s") ++
    QueryWorkload.Mix.flatMap(q => Seq(s"queries.${q}_s" -> "s",
      s"queries.$q.scan_bytes" -> "B", s"queries.$q.shuffle_bytes" -> "B")) ++ Seq(
    "trace.untraced_rows_per_s" -> "rows/s", "trace.traced_rows_per_s" -> "rows/s",
    "trace.overhead_ratio" -> "ratio")

  def metrics(w: Workload, ops: Seq[Main.OpRec], tr: Tracer, l: LayerListener,
      cores: Int, gcPerOp: Double): Seq[(String, (Double, String))] = l.synchronized {
    val n = ops.length.toDouble
    val opIds = ops.map(_.i).toSet
    def opOf(span: Int): Int = if (span >= 0) tr.spans(span).op else -1
    val jobs = l.jobs.values.filter(j => opIds(opOf(j.span))).toSeq
    val cells = l.cells.toSeq.filter { case ((span, _), _) => opIds(opOf(span)) }
    def sumCells(p: (((Int, String), Cell)) => Boolean)(f: Cell => Long): Double =
      cells.filter(p).map(c => f(c._2)).sum.toDouble
    def all(f: Cell => Long): Double = sumCells(_ => true)(f)
    def inLayer(layer: String)(f: Cell => Long): Double = sumCells(_._1._2 == layer)(f)
    def underCorpus(f: Cell => Long): Double =
      sumCells(c => tr.spans(c._1._1).name.startsWith("corpus."))(f)
    def layerJobs(layer: String) = jobs.filter(_.layer == layer)
    def jobS(js: Seq[JobRec]) = js.filter(_.endMs >= 0).map(j => j.endMs - j.startMs).sum / 1e3

    val v = scala.collection.mutable.LinkedHashMap(names.map { case (k, u) => k -> (0.0, u) }: _*)
    def put(k: String, x: Double): Unit = v(k) = (x, v(k)._2)

    put("spark.jobs_per_op", jobs.length / n)
    put("spark.stages_per_op", all(_.stages) / n)
    put("spark.tasks_per_op", all(_.tasks) / n)
    put("spark.task_cpu_s", all(_.cpuNs) / 1e9 / n)
    put("spark.gc_s", gcPerOp)
    put("spark.core_busy_ratio", all(_.runMs) / 1e3 / (ops.map(_.seconds).sum * cores))
    put("spark.shuffle_read_bytes", all(_.shuffleRead) / n)
    put("spark.shuffle_write_bytes", all(_.shuffleWrite) / n)
    put("spark.spill_bytes", all(_.spill) / n)
    put("spark.scan_bytes", all(_.inBytes) / n)
    put("spark.scan_rows", all(_.inRows) / n)
    put("spark.scan_files", l.scanFiles / n)

    put("sources.jobs", layerJobs("sources").length / n)
    put("sources.job_s", jobS(layerJobs("sources")) / n)
    put("sources.bytes_written", inLayer("sources")(_.outBytes) / n)
    put("sources.files_written", inLayer("sources")(_.filesWritten) / n)
    put("etl.jobs", layerJobs("etl").length / n)
    put("etl.job_s", jobS(layerJobs("etl")) / n)
    put("etl.shuffle_bytes", inLayer("etl")(_.shuffleWrite) / n)
    val delta = inLayer("sources")(_.outBytes)
    if (delta > 0) put("etl.target_rewrite_ratio", inLayer("etl")(_.outBytes) / delta)

    CorpusStages.foreach { s =>
      put(s"corpus.${s}_s",
        tr.spans.filter(sp => sp.name == s"corpus.$s" && opIds(sp.op))
          .map(tr.selfSeconds).sum / n)
    }
    put("corpus.shuffle_bytes", underCorpus(_.shuffleWrite) / n)
    put("corpus.spill_bytes", underCorpus(_.spill) / n)
    put("plans.corpus_task_cpu_s", underCorpus(_.cpuNs) / 1e9 / n)

    ops.groupBy(_.name).foreach { case (q, rs) if QueryWorkload.Mix.contains(q) =>
      val spans = rs.map(_.span).toSet
      def inOps(f: Cell => Long) = sumCells(c => spans(rootOf(tr, c._1._1)))(f)
      put(s"queries.${q}_s", Main.median(rs.map(_.seconds)))
      put(s"queries.$q.scan_bytes", inOps(_.inBytes) / rs.length)
      put(s"queries.$q.shuffle_bytes", inOps(_.shuffleWrite) / rs.length)
    case _ => ()
    }

    if (w.name == "etl_incremental") {
      // op wall time that no Spark job's interval covers
      val driver = ops.map { o =>
        val sp = tr.spans(o.span)
        val iv = jobs.filter(j => opOf(j.span) == o.i && j.endMs >= 0)
          .map(j => (j.startMs, j.endMs)).sortBy(_._1)
        var covered = 0L
        var curS = Long.MinValue
        var curE = Long.MinValue
        iv.foreach { case (s, e) =>
          if (s > curE) { covered += math.max(0L, curE - curS); curS = s; curE = e }
          else curE = math.max(curE, e)
        }
        covered += math.max(0L, curE - curS)
        math.max(0.0, (sp.endMs - sp.startMs - covered) / 1e3)
      }
      put("etl.driver_s", driver.sum / n)
    }
    w.layerExtras(ops).foreach { case (k, x) => put(k, x) }
    v.toSeq
  }

  private def rootOf(tr: Tracer, span: Int): Int = {
    var s = span
    while (s >= 0 && tr.spans(s).parent >= 0) s = tr.spans(s).parent
    s
  }

  /** Median wall time of a trivial one-job action: the per-job
    * scheduling floor every operator stage pays. */
  def jobFloorMs(spark: SparkSession): Double = {
    def once(): Double = {
      val t = System.nanoTime()
      spark.range(1).write.mode("overwrite").format("noop").save()
      (System.nanoTime() - t) / 1e6
    }
    (1 to 3).foreach(_ => once())
    Main.median((1 to 15).map(_ => once()))
  }
}
