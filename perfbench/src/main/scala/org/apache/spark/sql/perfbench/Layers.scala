package org.apache.spark.sql.perfbench

/** Per-layer metrics from a finished [[Trace]].
  *
  * A workload runs its operation sequence once cold (span `rep.cold`) and
  * then repeatedly warm (spans `rep.warm`). Each metric is computed per warm
  * repetition and reported as the median over them; `.cold_s` figures come
  * from the cold repetition. A layer the workload never calls reads 0.
  */
object Layers {
  import Trace._

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val n = s.size
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
    }

  def dur(s: Span): Double = (s.end - s.start) / 1000.0
  private def inside(t: Double, s: Span): Boolean = t >= s.start && t <= s.end
  private def within(s: Span, outer: Span): Boolean = s.start >= outer.start && s.end <= outer.end
  def jobsIn(s: Span): Seq[Job] = jobs.filter(j => inside(j.start.toDouble, s)).toSeq
  private def tasksIn(s: Span): Seq[Task] = tasks.filter(t => inside(t.launch.toDouble, s)).toSeq
  private def sqlsIn(s: Span): Seq[Sql] = sqls.filter(q => q.end >= 0 && inside(q.end.toDouble, s)).toSeq

  /** Length of the union of intervals, clipped to `s`, in seconds. */
  private def covered(s: Span, ivs: Seq[(Double, Double)]): Double = {
    val clipped = ivs.map { case (a, b) => (math.max(a, s.start), math.min(b, s.end)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var total = 0.0
    var (cs, ce) = (Double.NaN, Double.NaN)
    clipped.foreach { case (a, b) =>
      if (cs.isNaN || a > ce) { if (!cs.isNaN) total += ce - cs; cs = a; ce = b }
      else ce = math.max(ce, b)
    }
    if (!cs.isNaN) total += ce - cs
    total / 1000.0
  }

  private def jobWrites(j: Job): Boolean = tasks.exists(t =>
    j.stageIds.contains(t.stageId) && t.launch >= j.start && t.finish <= j.end && t.written > 0)

  def compute(cores: Int): Map[String, Double] = synchronized {
    val warm = spans.filter(_.name == "rep.warm").toSeq
    val cold = spans.filter(_.name == "rep.cold").toSeq
    def in(name: String, reps: Seq[Span]): Seq[Span] =
      spans.filter(s => s.name == name && reps.exists(r => within(s, r))).toSeq
    def perCall(name: String): Double = median(in(name, warm).map(dur))
    def perRep(name: String)(f: Span => Double): Double =
      median(warm.map(r => in(name, Seq(r)).map(f).sum))
    def counter(name: String, r: Span): Double =
      counters.filter(c => c._2 == name && inside(c._1, r)).map(_._3).sum

    val m = scala.collection.mutable.LinkedHashMap[String, Double]()
    // sessions start in set-up as well as in the repetitions: every call counts
    m("session.start_s") = median(spans.filter(_.name == "session.start").map(dur).toSeq)
    m("pages.build_s") = perCall("pages.build")
    m("pages.build_jobs") = median(in("pages.build", warm).map(jobsIn(_).size.toDouble))
    m("ops.shelve.build_s") = perCall("ops.shelve.build")
    m("ops.knn.build_s") = perCall("ops.knn.build")
    m("ops.knn.build_jobs") = median(in("ops.knn.build", warm).map(jobsIn(_).size.toDouble))
    for (j <- Seq("index", "shelve", "tile", "knn")) {
      m(s"jobs.$j.cold_s") = in(s"jobs.$j", cold).map(dur).sum
      m(s"jobs.$j.warm_s") = perRep(s"jobs.$j")(dur)
      m(s"jobs.$j.spark_jobs") = perRep(s"jobs.$j")(jobsIn(_).size.toDouble)
    }
    m("table.commit_s") = perRep("table.commit")(dur)
    m("table.commit.write_job_s") = perRep("table.commit")(s =>
      jobsIn(s).filter(jobWrites).map(j => (j.end - j.start) / 1000.0).sum)
    m("table.commit.lineage_job_s") = perRep("table.commit")(s =>
      jobsIn(s).filterNot(jobWrites).map(j => (j.end - j.start) / 1000.0).sum)
    m("table.commit.driver_s") = perRep("table.commit")(s =>
      dur(s) - covered(s, jobsIn(s).map(j => (j.start.toDouble, j.end.toDouble))))
    m("table.bytes_per_row") = median(warm.map(r =>
      counter("table.bytes", r) / math.max(1.0, counter("table.rows", r))))
    m("table.files_per_commit") = median(warm.map(r =>
      counter("table.files", r) / math.max(1.0, counter("table.commits", r))))
    m("table.read_s") = perCall("table.read")
    m("table.manifest_read_s") = perCall("table.manifest_read")
    m("plan.analysis_s") = median(warm.map(r => sqlsIn(r).map(_.analysisMs).sum / 1000.0))
    m("plan.optimization_s") = median(warm.map(r => sqlsIn(r).map(_.optimizationMs).sum / 1000.0))
    m("plan.planning_s") = median(warm.map(r => sqlsIn(r).map(_.planningMs).sum / 1000.0))
    m("codegen.compile_s") = median(warm.map(_.compileNs / 1e9))
    m("codegen.compiles") = median(warm.map(_.compiles.toDouble))
    def ex(f: Seq[Task] => Double): Double = median(warm.map(r => f(tasksIn(r))))
    m("exec.task_s") = ex(_.map(_.runMs).sum / 1000.0)
    m("exec.cpu_s") = ex(_.map(_.cpuNs).sum / 1e9)
    m("exec.gc_s") = ex(_.map(_.gcMs).sum / 1000.0)
    m("exec.shuffle_read_mb") = ex(_.map(_.shuffleRead).sum / 1e6)
    m("exec.shuffle_write_mb") = ex(_.map(_.shuffleWrite).sum / 1e6)
    m("exec.spill_mb") = ex(_.map(_.spill).sum / 1e6)
    m("exec.tasks") = ex(_.size.toDouble)
    m("exec.core_busy_ratio") = median(warm.map(r =>
      tasksIn(r).map(_.runMs).sum / 1000.0 / (dur(r) * cores)))
    m("exec.sched_gap_s") = median(warm.map(r =>
      dur(r) - covered(r, tasksIn(r).map(t => (t.launch.toDouble, t.finish.toDouble)))))
    m.toMap
  }

  /** Spark jobs started inside spans named `name`, with their call sites:
    * which program line launched each one, for the artifact. */
  def jobSites(name: String): Seq[(String, Int)] =
    spans.filter(_.name == name).flatMap(jobsIn).groupBy(_.callSite)
      .map { case (k, v) => k -> v.size }.toSeq.sortBy(-_._2)

  /** Time-stamped counters recorded by the harness: (time, name, value). */
  val counters = scala.collection.mutable.ArrayBuffer[(Double, String, Double)]()
  def count(name: String, v: Double): Unit = synchronized { counters += ((nowMs, name, v)) }
}
