package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Pins the conf every entry point's session is built with. The check
  * reads the settings value, not a live session: in the test JVM
  * `getOrCreate` would hand back (and mutate) the shared test session. */
class GraftSessionSpec extends AnyFunSuite {

  test("settings for N cores are exactly Bench's session conf") {
    val n = 8
    assert(GraftSession.settings(n) == Seq(
      "spark.master" -> "local[8]",
      "spark.sql.shuffle.partitions" -> "8",
      "spark.sql.session.timeZone" -> "UTC",
      "spark.sql.parquet.aggregatePushdown" -> "true",
      "spark.sql.extensions" -> "graft.plans.GraftExtensions",
      "spark.ui.enabled" -> "false",
      "spark.cleaner.referenceTracking.cleanCheckpoints" -> "true"))
  }

  test("no src/main file but GraftSession.scala builds a SparkSession") {
    val stream = Files.walk(Paths.get("src/main"))
    val builders =
      try stream.iterator.asScala
        .filter(p => p.toString.endsWith(".scala"))
        .filter(p => Files.readString(p).contains("SparkSession.builder"))
        .map((p: Path) => p.getFileName.toString).toSeq
      finally stream.close()
    assert(builders == Seq("GraftSession.scala"))
  }
}
