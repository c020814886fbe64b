package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.util.QueryExecutionListener

/** A timed interval around one benchmark-side call into a layer.
  * `op` is the timed operation the span belongs to (-1 outside ops). */
final case class Span(id: Int, parent: Int, name: String, op: Int,
    startNs: Long, startMs: Long, var endNs: Long = 0L, var endMs: Long = 0L) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** Records spans in memory and tags every Spark job started inside a
  * span with the span id (a SparkContext local property, which Spark
  * copies into the job's properties), so listener counts can be
  * attributed to spans. Disabled, it only runs the body. */
final class Tracer(spark: SparkSession) {
  @volatile var enabled = false
  val spans = mutable.ArrayBuffer.empty[Span]
  private var stack = List.empty[Span]

  /** `op` starts an op's root span; nested spans inherit the op. */
  def span[T](name: String, op: Option[Int] = None)(body: => T): T =
    if (!enabled) body
    else {
      val s = Span(spans.length, stack.headOption.fold(-1)(_.id), name,
        op.getOrElse(stack.headOption.fold(-1)(_.op)),
        System.nanoTime(), System.currentTimeMillis())
      spans += s
      stack ::= s
      spark.sparkContext.setLocalProperty(Tracer.SpanKey, s.id.toString)
      try body
      finally {
        s.endNs = System.nanoTime()
        s.endMs = System.currentTimeMillis()
        stack = stack.tail
        spark.sparkContext.setLocalProperty(Tracer.SpanKey,
          stack.headOption.map(_.id.toString).orNull)
      }
    }

  /** Span duration minus the part of it its child spans cover. */
  def selfSeconds(s: Span): Double = {
    val kids = spans.filter(_.parent == s.id)
    s.seconds - kids.map(_.seconds).sum
  }

  /** Tab-separated span dump: id, parent, op, name, start, end (ns). */
  def write(path: String): Unit = {
    val w = new java.io.PrintWriter(path, "UTF-8")
    try spans.foreach(s =>
      w.println(s"${s.id}\t${s.parent}\t${s.op}\t${s.name}\t${s.startNs}\t${s.endNs}"))
    finally w.close()
  }
}

object Tracer {
  val SpanKey = "perfbench.span"
}

/** Layer of a Spark job or stage, from the source file of its call
  * site (Spark names a stage "<action> at <File>.scala:<line>", the
  * first frame outside Spark). */
object Layers {
  val sources = Set("PagedRestSource.scala", "JsonOrderSource.scala",
    "ParquetSink.scala", "ParquetMeta.scala")
  val etl = Set("EtlControl.scala", "Incremental.scala", "Dedup.scala",
    "Validate.scala", "Pipeline.scala")
  val corpus = Set("TextDedup.scala", "MinHashLSH.scala", "SimHash.scala",
    "DupGroups.scala", "Sampling.scala")

  def fileOf(callSite: String): String = {
    val at = callSite.lastIndexOf(" at ")
    val rest = if (at >= 0) callSite.substring(at + 4) else callSite
    val colon = rest.indexOf(':')
    if (colon >= 0) rest.substring(0, colon) else rest
  }

  def of(callSite: String): String = {
    val f = fileOf(callSite)
    if (sources(f)) "sources"
    else if (etl(f)) "etl"
    else if (corpus(f)) "corpus"
    else if (f.endsWith("Queries.scala")) "queries"
    else "other"
  }
}

/** Per-task totals for one (span, layer) cell. */
final class Cell {
  var tasks = 0L
  var cpuNs = 0L
  var runMs = 0L
  var shuffleRead = 0L
  var shuffleWrite = 0L
  var spill = 0L
  var inBytes = 0L
  var inRows = 0L
  var outBytes = 0L
  var filesWritten = 0L
  var stages = 0L
}

final case class JobRec(id: Int, span: Int, layer: String, callSite: String,
    startMs: Long, var endMs: Long = -1L)

/** Attributes Spark's own statistics to spans and layers: task metrics
  * per stage (SparkListener), scanned files per query execution
  * (QueryExecutionListener). All state is guarded by `this`. */
final class LayerListener extends SparkListener with QueryExecutionListener
    with AdaptiveSparkPlanHelper {
  val jobs = mutable.LinkedHashMap.empty[Int, JobRec]
  val cells = mutable.HashMap.empty[(Int, String), Cell]
  private val stageKey = mutable.HashMap.empty[Int, (Int, String)]
  /** Call site of each SQL execution (Spark's description of it). */
  private val execSite = mutable.HashMap.empty[Long, String]
  /** Files scanned by the query executions seen so far. */
  var scanFiles = 0L

  private def spanOf(p: java.util.Properties): Int =
    Option(p).flatMap(x => Option(x.getProperty(Tracer.SpanKey)))
      .map(_.toInt).getOrElse(-1)

  private def cell(k: (Int, String)): Cell = cells.getOrElseUpdate(k, new Cell)

  /** The stage's own call site, unless it ran on a Spark helper thread
    * (AQE stages, broadcasts): then that of its SQL execution. */
  private def site(stageName: String, p: java.util.Properties): String =
    if (Layers.fileOf(stageName).endsWith(".scala")) stageName
    else Option(p).flatMap(x => Option(x.getProperty("spark.sql.execution.id")))
      .flatMap(id => execSite.get(id.toLong)).getOrElse(stageName)

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart => synchronized {
      execSite(s.executionId) = s.description
    }
    case _ => ()
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val last = if (e.stageInfos.isEmpty) "" else e.stageInfos.maxBy(_.stageId).name
    val cs = site(last, e.properties)
    jobs(e.jobId) = JobRec(e.jobId, spanOf(e.properties), Layers.of(cs), cs, e.time)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.endMs = e.time)
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    stageKey(e.stageInfo.stageId) =
      (spanOf(e.properties), Layers.of(site(e.stageInfo.name, e.properties)))
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    stageKey.get(e.stageInfo.stageId).foreach(k => cell(k).stages += 1)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m != null) stageKey.get(e.stageId).foreach { k =>
      val c = cell(k)
      c.tasks += 1
      c.cpuNs += m.executorCpuTime
      c.runMs += m.executorRunTime
      c.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      c.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      c.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      c.inBytes += m.inputMetrics.bytesRead
      c.inRows += m.inputMetrics.recordsRead
      c.outBytes += m.outputMetrics.bytesWritten
      if (m.outputMetrics.recordsWritten > 0) c.filesWritten += 1
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution,
      durationNs: Long): Unit = {
    val n = collect(qe.executedPlan) { case s: FileSourceScanExec =>
      s.metrics.get("numFiles").map(_.value).getOrElse(0L)
    }.sum
    synchronized { scanFiles += n }
  }

  override def onFailure(funcName: String, qe: QueryExecution,
      exception: Exception): Unit = ()

  /** Tab-separated job dump: id, span, layer, start, end (ms), call site. */
  def writeJobs(path: String): Unit = synchronized {
    val w = new java.io.PrintWriter(path, "UTF-8")
    try jobs.values.foreach(j =>
      w.println(s"${j.id}\t${j.span}\t${j.layer}\t${j.startMs}\t${j.endMs}\t${j.callSite}"))
    finally w.close()
  }
}
