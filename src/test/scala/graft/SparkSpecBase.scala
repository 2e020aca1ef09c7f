package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

import java.util.concurrent.ConcurrentHashMap

/** One shared local SparkSession for all Spark-backed suites. */
trait SparkSpecBase extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpecBase.session

  /** Runs `body` and counts the Spark jobs it submitted: jobs are tagged
    * through a local property, which threads that `body` starts inherit,
    * so concurrent jobs of other callers are not counted. */
  def jobsDuring[A](body: => A): (A, Long) = {
    val sc = spark.sparkContext
    val tag = "graft.test.jobs"
    val jobs = new ConcurrentHashMap[Int, String]()
    val ended = ConcurrentHashMap.newKeySet[Int]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        jobs.put(e.jobId, Option(e.properties).flatMap(p => Option(p.getProperty(tag))).getOrElse(""))
      override def onJobEnd(e: SparkListenerJobEnd): Unit = {
        ended.add(e.jobId); ()
      }
    }
    sc.addSparkListener(listener)
    try {
      sc.setLocalProperty(tag, "body")
      val r = body
      // the listener bus is FIFO: once this marker job's end is seen,
      // every job `body` submitted has been counted
      sc.setLocalProperty(tag, "marker")
      sc.parallelize(Seq(1), 1).count()
      val deadline = System.nanoTime() + 60L * 1000000000L
      def markerDone = jobs.entrySet().stream()
        .anyMatch(e => e.getValue == "marker" && ended.contains(e.getKey))
      while (!markerDone) {
        assert(System.nanoTime() < deadline, "listener bus did not drain")
        Thread.sleep(5)
      }
      (r, jobs.values().stream().filter(_ == "body").count())
    } finally {
      sc.setLocalProperty(tag, null)
      sc.removeSparkListener(listener)
    }
  }
}

object SparkSpecBase {
  lazy val session: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      // tests drive GraphOps fixpoints from driver-built DataFrames; see
      // the session note in GraphOps scaladoc (Union.rewriteConstraints
      // fails on checkpointed plans with stale origin-constraint attrs)
      .config("spark.sql.constraintPropagation.enabled", "false")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}
