package org.apache.spark.sql.perfbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler._
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.util.QueryExecutionListener

/** In-memory trace of one benchmark run.
  *
  * Spans are recorded by the harness around each of its calls into the
  * program. Spark jobs, tasks and SQL executions arrive through
  * [[TraceListener]] and [[TraceQeListener]], which the harness installs
  * through `spark.extraListeners` and `spark.sql.queryExecutionListeners`,
  * so the program's own session factory picks them up unchanged.
  *
  * All times are epoch milliseconds, the clock Spark's listener events use.
  * Events are read after the session stops, which drains the listener bus.
  * The package sits under `org.apache.spark.sql` because Spark keeps the
  * query execution carried by the SQL-end event package-private.
  */
object Trace {
  case class Span(id: Int, parent: Int, name: String, start: Double, var end: Double = -1,
                  compileNs0: Long, compiles0: Long, var compileNs: Long = 0, var compiles: Long = 0)
  case class Job(id: Int, start: Long, var end: Long, callSite: String, stageIds: Seq[Int],
                 var ok: Boolean = false)
  case class Task(stageId: Int, launch: Long, finish: Long, runMs: Long, cpuNs: Long, gcMs: Long,
                  shuffleRead: Long, shuffleWrite: Long, spill: Long, written: Long)
  case class Sql(id: Long, start: Long, var end: Long = -1, var analysisMs: Long = 0,
                 var optimizationMs: Long = 0, var planningMs: Long = 0, var failed: Boolean = false)

  private val baseMs = System.currentTimeMillis().toDouble
  private val baseNs = System.nanoTime()
  def nowMs: Double = baseMs + (System.nanoTime() - baseNs) / 1e6

  val spans = ArrayBuffer[Span]()
  val jobs = ArrayBuffer[Job]()
  val tasks = ArrayBuffer[Task]()
  val sqls = ArrayBuffer[Sql]()
  @volatile var qeFailures = 0
  private var stack = List.empty[Int]

  /** Install the listeners into every session created after this call. */
  def install(): Unit = {
    System.setProperty("spark.extraListeners", classOf[TraceListener].getName)
    System.setProperty("spark.sql.queryExecutionListeners", classOf[TraceQeListener].getName)
  }

  private def compiles(): Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  /** Time `body` as a span named `name`, nested under the open span. */
  def span[A](name: String)(body: => A): A = {
    val s = synchronized {
      val s = Span(spans.size, stack.headOption.getOrElse(-1), name, nowMs,
        compileNs0 = CodeGenerator.compileTime, compiles0 = compiles())
      spans += s
      stack = s.id :: stack
      s
    }
    try body
    finally synchronized {
      s.end = nowMs
      s.compileNs = CodeGenerator.compileTime - s.compileNs0
      s.compiles = compiles() - s.compiles0
      stack = stack.tail
    }
  }

  private[perfbench] def onSqlEnd(e: SparkListenerSQLExecutionEnd): Unit = synchronized {
    sqls.findLast(_.id == e.executionId).foreach { s =>
      s.end = e.time
      s.failed = e.errorMessage.exists(_.nonEmpty)
      Option(e.qe).foreach { qe =>
        val ph = qe.tracker.phases
        s.analysisMs = ph.get("analysis").map(_.durationMs).getOrElse(0L)
        s.optimizationMs = ph.get("optimization").map(_.durationMs).getOrElse(0L)
        s.planningMs = ph.get("planning").map(_.durationMs).getOrElse(0L)
      }
    }
  }

  private[perfbench] def add[A](buf: ArrayBuffer[A], a: A): Unit = synchronized { buf += a }
}

/** Spark jobs, tasks and SQL executions into [[Trace]]. */
class TraceListener extends SparkListener {
  import Trace._
  override def onJobStart(e: SparkListenerJobStart): Unit = {
    // the result stage is named after the action's call site, "collect at X.scala:N"
    val site = e.stageInfos.sortBy(_.stageId).lastOption.map(_.name).getOrElse("")
    add(jobs, Job(e.jobId, e.time, -1, site, e.stageIds))
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = Trace.synchronized {
    jobs.findLast(_.id == e.jobId).foreach { j => j.end = e.time; j.ok = e.jobResult == JobSucceeded }
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m != null) add(tasks, Task(e.stageId, e.taskInfo.launchTime, e.taskInfo.finishTime,
      m.executorRunTime, m.executorCpuTime, m.jvmGCTime,
      m.shuffleReadMetrics.totalBytesRead, m.shuffleWriteMetrics.bytesWritten,
      m.memoryBytesSpilled + m.diskBytesSpilled, m.outputMetrics.bytesWritten))
  }
  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart => add(sqls, Sql(s.executionId, s.time))
    case s: SparkListenerSQLExecutionEnd => onSqlEnd(s)
    case _ =>
  }
}

/** Counts query executions that fail. */
class TraceQeListener extends QueryExecutionListener {
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = ()
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    Trace.synchronized { Trace.qeFailures += 1 }
}
