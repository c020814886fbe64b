package graft

import org.apache.spark.sql.SparkSession

/** The one session factory: every `src/main` entry point (Bench,
  * Verify, ScaleBench, StreamBench, tools.PlanDump) runs on the session
  * built here, so the engine's configuration — its SQL conf plus the
  * [[graft.plans.GraftExtensions]] rules — is decided in one place and
  * a plan measured by one tool is the plan every other tool runs.
  *
  * N = `$SPARK_GRAFT_CPUS`, or the host's core count when unset: the
  * session is `local[N]` with N shuffle partitions. Tests keep their own
  * fixed `local[4]` session (SparkTestBase) because golden plan
  * snapshots depend on its partition count. */
object GraftSession {

  /** The master and session conf for an `n`-core session. */
  private[graft] def settings(n: Int): Seq[(String, String)] = Seq(
    "spark.master" -> s"local[$n]",
    "spark.sql.shuffle.partitions" -> n.toString,
    "spark.sql.session.timeZone" -> "UTC",
    "spark.sql.parquet.aggregatePushdown" -> "true",
    "spark.sql.extensions" -> "graft.plans.GraftExtensions",
    "spark.ui.enabled" -> "false",
    // GC'd checkpointed RDDs (one per q54-family rep) drop their files
    "spark.cleaner.referenceTracking.cleanCheckpoints" -> "true")

  def create(): SparkSession = {
    val cores = sys.env.get("SPARK_GRAFT_CPUS").map(_.trim.toInt)
      .getOrElse(Runtime.getRuntime.availableProcessors)
    val spark = settings(cores)
      .foldLeft(SparkSession.builder()) { case (b, (k, v)) => b.config(k, v) }
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
