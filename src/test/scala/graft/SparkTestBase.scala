package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

trait SparkTestBase extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkTestBase.session
  val sf0001 = "/root/testdata/sf0.001"
  val sf001 = "/root/testdata/sf0.01"
  val sf01 = "/root/testdata/sf0.1"

  /** Spark jobs `body` starts, on this thread or on threads it starts
    * (they inherit its job group). */
  protected def jobsOf(body: => Unit): Int = {
    val sc = spark.sparkContext
    val groups = new java.util.concurrent.ConcurrentLinkedQueue[String]
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        groups.add(Option(e.properties)
          .flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).getOrElse(""))
    }
    def inGroup(g: String)(f: => Unit): Unit = {
      sc.setJobGroup(g, g)
      try f finally sc.clearJobGroup()
    }
    sc.addSparkListener(listener)
    try {
      inGroup("jobs-of-body")(body)
      // listener events arrive in order: once the marker job is seen,
      // every job before it has been
      inGroup("jobs-of-marker")(sc.parallelize(Seq(1), 1).count())
      val deadline = System.nanoTime() + 30000000000L
      while (!groups.contains("jobs-of-marker") && System.nanoTime() < deadline)
        Thread.sleep(10)
      assert(groups.contains("jobs-of-marker"))
    } finally sc.removeSparkListener(listener)
    groups.toArray.count(_ == "jobs-of-body")
  }
}

object SparkTestBase {
  lazy val session: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
