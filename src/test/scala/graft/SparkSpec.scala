package graft

import java.util.concurrent.LinkedBlockingQueue
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** Shared local session for all suites (one JVM, small core count). */
object TestSession {
  lazy val spark: SparkSession = Session.local(cores = 4, appName = "graft-test")
}

abstract class SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = TestSession.spark
  val Sf = "/root/testdata/sf0.001"

  /** Spark jobs started while `body` runs. */
  def jobsDuring(body: => Unit): Int = jobsRun(body).size

  /** The Spark jobs started while `body` runs, in start order, each marked
    * true when a task of it wrote output records. Listener events arrive in
    * order, so once a sentinel job's start is seen every earlier job's start
    * and task ends have been. */
  def jobsRun(body: => Unit): Seq[Boolean] = {
    val jobs = new LinkedBlockingQueue[(String, Seq[Int])]()
    val writing = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        jobs.put((String.valueOf(e.properties.getProperty("spark.jobGroup.id")), e.stageIds))
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
        if (e.taskMetrics != null && e.taskMetrics.outputMetrics.recordsWritten > 0)
          writing.add(e.stageId)
    }
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    try {
      body
      sc.setJobGroup("spark-spec-sentinel", "sentinel")
      try spark.range(1).count() finally sc.clearJobGroup()
      Iterator.continually(jobs.take()).takeWhile(_._1 != "spark-spec-sentinel")
        .map(_._2.exists(writing.contains)).toSeq
    } finally sc.removeSparkListener(listener)
  }
}
