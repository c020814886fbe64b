package perfbench

import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.spark.PerfbenchBus
import org.apache.spark.sql.SparkSession

/** One output check. A failed check invalidates every op of the run. */
final case class Check(name: String, ok: Boolean, detail: String)

/** A workload drives graft's public entry points in a closed loop with
  * one client. Everything but `op` is untimed. */
trait Workload {
  def name: String
  /** Builds inputs and bootstrap state under a fresh `dir`; resets all
    * state of earlier set-ups. */
  def setup(dir: String): Unit
  /** Untimed ops over the set-up state, so JIT, codegen and the
    * library's per-directory caches are done before timing. */
  def warmup(): Unit
  /** Stages the inputs op `i` consumes (generator work, untimed). */
  def prepare(i: Int): Unit = ()
  /** One timed op; returns the input rows it consumed. Throws if the
    * program reports a wrong result. */
  def op(i: Int): Long
  def opName(i: Int): String = name
  /** A run times whole rounds of this many ops, so a query mix is
    * measured in whole rounds. */
  def roundSize: Int = 1
  /** Typical op time on a 4-core host: a run of `--seconds` times
    * seconds / opSeconds ops, the same number on every run. */
  def opSeconds: Double
  def check(): Seq[Check]
  /** Bytes of durable outputs per live output row. */
  def storedBytesPerRow(): Double
  /** Per-layer values only this workload can measure, taken after the
    * traced ops. */
  def layerExtras(ops: Seq[Main.OpRec]): Map[String, Double] = Map.empty
}

object Main {
  val SetupReps = 3

  final case class OpRec(i: Int, name: String, span: Int, seconds: Double,
      rows: Long, ok: Boolean, cpuS: Double, writeBytes: Long)

  private val osBean = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  def processCpuS(): Double = osBean.getProcessCpuTime / 1e9
  def gcS(): Double = {
    import scala.jdk.CollectionConverters._
    ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime).filter(_ > 0).sum / 1e3
  }

  private def procField(file: String, key: String): Long = {
    val src = scala.io.Source.fromFile(file)
    try src.getLines().find(_.startsWith(key))
      .map(_.substring(key.length).trim.split("\\s+")(0).toLong).getOrElse(-1L)
    finally src.close()
  }
  /** Bytes this process caused to be written to storage. */
  def ioWriteBytes(): Long = procField("/proc/self/io", "write_bytes:")
  def peakRssMb(): Double = procField("/proc/self/status", "VmHWM:") / 1024.0

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0
    else if (s.length % 2 == 1) s(s.length / 2)
    else (s(s.length / 2 - 1) + s(s.length / 2)) / 2
  }

  /** Nearest-rank percentile `p` (0..100) of `xs`. */
  def percentile(xs: Seq[Double], p: Int): Double = {
    val s = xs.sorted
    s(math.max(0, math.ceil(p / 100.0 * s.length).toInt - 1))
  }

  /** The highest whole percentile with at least ten samples beyond it;
    * with fewer than 20 samples none exists, and the maximum is used.
    * A workload times the same number of ops on every run, so each
    * workload always reports the same percentile. */
  def tailPercentile(n: Int): Int =
    if (n < 20) 100 else math.floor(100.0 * (1.0 - 10.0 / n)).toInt

  def deleteRecursively(f: java.io.File): Unit = {
    if (f.isDirectory) Option(f.listFiles).foreach(_.foreach(deleteRecursively))
    f.delete()
  }

  def dirBytes(path: String): Long = {
    def walk(f: java.io.File): Long =
      if (f.isDirectory) Option(f.listFiles).map(_.map(walk).sum).getOrElse(0L)
      else if (f.getName.startsWith(".") || f.getName.startsWith("_")) 0L
      else f.length
    walk(new java.io.File(path))
  }

  def session(cores: Int, work: String): SparkSession = {
    // graft.Bench's session, at local[cores]; the two directories keep
    // Spark's scratch files inside the benchmark's work directory
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.parquet.aggregatePushdown", "true")
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .config("spark.ui.enabled", "false")
      .config("spark.cleaner.referenceTracking.cleanCheckpoints", "true")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** The SQL settings the measurement depends on, with the values the
    * session must have. */
  def expectedConf(cores: Int): Seq[(String, String)] = Seq(
    "spark.sql.shuffle.partitions" -> cores.toString,
    "spark.sql.session.timeZone" -> "UTC",
    "spark.sql.parquet.aggregatePushdown" -> "true",
    "spark.sql.extensions" -> "graft.plans.GraftExtensions",
    "spark.sql.adaptive.enabled" -> "true",
    "spark.sql.ansi.enabled" -> "true",
    "spark.sql.autoBroadcastJoinThreshold" -> "10485760b",
    "spark.sql.codegen.wholeStage" -> "true",
    "spark.sql.parquet.compression.codec" -> "snappy")

  def main(argv: Array[String]): Unit = {
    val opts = argv.grouped(2).collect { case Array(k, v) => k -> v }.toMap
    val workload = opts("--workload")
    val seed = opts("--seed").toLong
    val seconds = opts("--seconds").toDouble
    val traced = opts("--trace") == "1"
    val work = opts("--work")
    val cores = opts("--cores").toInt
    val out = opts("--out")

    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val spark = session(cores, work)
    val sessionS = (System.currentTimeMillis() - jvmStartMs) / 1e3
    val tracer = new Tracer(spark)
    val w: Workload = workload match {
      case "etl_incremental" => new EtlWorkload(spark, seed, tracer)
      case "corpus_dedup" => new CorpusWorkload(spark, seed, tracer)
      case "staging_queries" => new QueryWorkload(spark, seed, tracer)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }

    // set-up is repeated on fresh directories and its median reported;
    // the last directory is the one measured
    val setupRuns = (1 to SetupReps).map { r =>
      val t = System.nanoTime()
      w.setup(s"$work/setup$r")
      (System.nanoTime() - t) / 1e9
    }
    (1 until SetupReps).foreach(r => deleteRecursively(new java.io.File(s"$work/setup$r")))
    val warmT = System.nanoTime()
    w.warmup()
    val warmS = (System.nanoTime() - warmT) / 1e9
    val setupS = sessionS + median(setupRuns) + warmS

    val native = graft.plans.GraftExtensions.nativeAvailable
    val conf = expectedConf(cores).map { case (k, want) =>
      (k, want, spark.conf.getOption(k).getOrElse("<unset>"))
    }

    // a traced run traces every other round, so traced and untraced ops
    // see the same warm-up; their rows_per_s difference is the overhead
    val listener = new LayerListener
    var gcTraced = 0.0
    def setTracing(on: Boolean): Unit = if (on != tracer.enabled) {
      tracer.enabled = on
      PerfbenchBus.drain(spark.sparkContext)
      if (on) {
        spark.sparkContext.addSparkListener(listener)
        spark.listenerManager.register(listener)
      } else {
        spark.sparkContext.removeSparkListener(listener)
        spark.listenerManager.unregister(listener)
      }
    }
    val ops = mutable.ArrayBuffer.empty[OpRec]
    val rounds = math.max(if (traced) 2L else 1L,
      math.round(seconds / (w.opSeconds * w.roundSize)))
    while (ops.length < rounds * w.roundSize) {
      val i = ops.length
      setTracing(traced && (i / w.roundSize) % 2 == 1)
      w.prepare(i)
      val cpu0 = processCpuS()
      val io0 = ioWriteBytes()
      val gc0 = gcS()
      val s = System.nanoTime()
      val spanId = tracer.spans.length
      val (rows, ok) =
        try (tracer.span("op", Some(i))(w.op(i)), true)
        catch {
          case NonFatal(e) =>
            System.err.println(s"[perfbench] op $i (${w.opName(i)}) failed: $e")
            (0L, false)
        }
      val sec = (System.nanoTime() - s) / 1e9
      if (tracer.enabled) gcTraced += gcS() - gc0
      ops += OpRec(i, w.opName(i), if (tracer.enabled) spanId else -1, sec,
        rows, ok, processCpuS() - cpu0, ioWriteBytes() - io0)
    }
    setTracing(false)

    val metrics = mutable.LinkedHashMap.empty[String, (Double, String)]
    val info = mutable.LinkedHashMap.empty[String, String]
    if (traced) {
      val (tr, plain) = ops.partition(_.span >= 0)
      Layer.metrics(w, tr.toSeq, tracer, listener, cores, gcTraced / tr.length)
        .foreach { case (k, v) => metrics(k) = v }
      def rps(rs: Seq[OpRec]) = rs.map(_.rows).sum / rs.map(_.seconds).sum
      metrics("trace.untraced_rows_per_s") = (rps(plain.toSeq), "rows/s")
      metrics("trace.traced_rows_per_s") = (rps(tr.toSeq), "rows/s")
      metrics("trace.overhead_ratio") = (1.0 - rps(tr.toSeq) / rps(plain.toSeq), "ratio")
      metrics("plans.native") = (if (native) 1.0 else 0.0, "bool")
      metrics("spark.job_floor_ms") = (Layer.jobFloorMs(spark), "ms")
      tracer.write(s"$out.spans.tsv")
      listener.writeJobs(s"$out.jobs.tsv")
    }

    val checks = Check("plans.native", native, s"native kernels active: $native") +:
      Check("sql_conf", conf.forall(c => c._2 == c._3),
        conf.map(c => s"${c._1}=${c._3}").mkString(", ")) +:
      (try w.check()
       catch { case NonFatal(e) => Seq(Check("checks", ok = false, e.toString)) })
    val stored = w.storedBytesPerRow()

    if (!traced) {
      val secs = ops.map(_.seconds).toSeq
      val tailP = tailPercentile(ops.length)
      metrics("setup_s") = (setupS, "s")
      metrics("op_p50_s") = (median(secs), "s")
      metrics("op_tail_s") = (percentile(secs, tailP), "s")
      metrics("rows_per_s") = (ops.map(_.rows).sum / secs.sum, "rows/s")
      metrics("cpu_per_op_s") = (ops.map(_.cpuS).sum / ops.length, "s")
      metrics("peak_rss_mb") = (peakRssMb(), "MB")
      metrics("write_bytes_per_row") =
        (ops.map(_.writeBytes).sum.toDouble / math.max(1L, ops.map(_.rows).sum), "B/row")
      metrics("stored_bytes_per_row") = (stored, "B/row")
      info("op_tail_percentile") = tailP.toString
    }
    info("ops") = ops.length.toString
    info("setup_session_s") = f"$sessionS%.3f"
    info("setup_runs_s") = setupRuns.map(s => f"$s%.3f").mkString(" ")
    info("setup_warmup_s") = f"$warmS%.3f"
    info("cores") = cores.toString
    info("data_dir") = s"$work/setup$SetupReps"

    val failed = if (checks.forall(_.ok)) ops.count(!_.ok) else ops.length
    writeResult(out, w.name, ops.toSeq, failed, checks, metrics.toSeq, info.toSeq)
    spark.stop()
  }

  private def js(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""

  private def writeResult(out: String, workload: String, ops: Seq[OpRec],
      failed: Int, checks: Seq[Check], metrics: Seq[(String, (Double, String))],
      info: Seq[(String, String)]): Unit = {
    val opsByName = ops.groupBy(_.name).map { case (k, v) => js(k) + ":" + v.length }
    val checkJs = checks.map(c =>
      s"""{"name":${js(c.name)},"ok":${c.ok},"detail":${js(c.detail)}}""")
    val metricJs = metrics.map { case (k, (v, u)) =>
      val num = if (v.isNaN || v.isInfinite) "null" else v.toString
      s"""${js(k)}:{"value":$num,"unit":${js(u)}}"""
    }
    val infoJs = info.map { case (k, v) => js(k) + ":" + js(v) }
    val text = s"""{"workload":${js(workload)},"attempted":${ops.length},"failed":$failed,""" +
      s""""ops_by_name":{${opsByName.mkString(",")}},"checks":[${checkJs.mkString(",")}],""" +
      s""""metrics":{${metricJs.mkString(",")}},"info":{${infoJs.mkString(",")}}}"""
    val tmp = new java.io.File(out + ".tmp")
    java.nio.file.Files.write(tmp.toPath, text.getBytes("UTF-8"))
    java.nio.file.Files.move(tmp.toPath, new java.io.File(out).toPath,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
  }
}
