package graft

import java.util.concurrent.LinkedBlockingQueue
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
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

  /** Spark jobs started while `body` runs. Listener events arrive in order,
    * so once a sentinel job's start is seen every earlier start has been. */
  def jobsDuring(body: => Unit): Int = {
    val groups = new LinkedBlockingQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        groups.put(String.valueOf(e.properties.getProperty("spark.jobGroup.id")))
    }
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    try {
      body
      sc.setJobGroup("spark-spec-sentinel", "sentinel")
      try spark.range(1).count() finally sc.clearJobGroup()
      Iterator.continually(groups.take()).takeWhile(_ != "spark-spec-sentinel").size
    } finally sc.removeSparkListener(listener)
  }
}
