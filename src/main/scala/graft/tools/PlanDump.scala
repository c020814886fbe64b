package graft.tools

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.execution.FormattedMode

/** Dev/measurement tool: dump `.explain("formatted")` for every
  * registered query to one file per query, the round's committed plan
  * evidence (plans/rNN/<query>_before|after.txt).
  *
  * Usage: sbt "runMain graft.tools.PlanDump <outDir> <suffix> [sfDir] [only,...]"
  * e.g.   sbt "runMain graft.tools.PlanDump plans/r16 before /root/testdata/sf0.1"
  *
  * Plans are captured on [[graft.GraftSession]], the session Bench runs
  * on (shuffle.partitions = SPARK_GRAFT_CPUS, AQE on), so the committed
  * shape is what the bench actually runs; AdaptiveSparkPlan prints
  * isFinalPlan=false because the dump does not execute the query.
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val outDir = args.headOption.getOrElse("plans/r16")
    val suffix = args.lift(1).getOrElse("before")
    val sfDir = args.lift(2).getOrElse("/root/testdata/sf0.1")
    val only = args.lift(3).map(_.split(",").map(_.trim).toSet)
    val spark = graft.GraftSession.create()
    Files.createDirectories(Paths.get(outDir))
    val queries = graft.SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (name, _) => !name.endsWith("_portable") }
      .filter { case (name, _) => only.forall(_.contains(name)) }
    queries.foreach { case (name, fn) =>
      try {
        val df = fn(spark, sfDir)
        val txt = df.queryExecution.explainString(FormattedMode)
        Files.write(Paths.get(outDir, s"${name}_$suffix.txt"),
          txt.getBytes(StandardCharsets.UTF_8))
        println(s"[plandump] $name ok")
      } catch {
        case e: Throwable => println(s"[plandump] $name FAILED: $e")
      }
    }
    spark.stop()
  }
}
