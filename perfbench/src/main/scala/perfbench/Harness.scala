package perfbench

import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable.{ArrayBuffer, LinkedHashMap}
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.perfbench.{Layers, Trace}
import Trace.span

import graft.Session
import graft.jobs.IndexJob
import graft.ops.{KnnJoin, PipJoin, Tiling}
import graft.pages.Pages
import graft.table.Icelite

/** One benchmark run in one JVM; see `run.py` for the command line.
  *
  * Arguments are `key=value`: workload, input, work, seconds, trace, out,
  * and for a traced run with the catalog probe, catalog (a directory of
  * catalog tables) and order (comma list of catalog queries).
  *
  * The run writes raw figures and program outputs as JSON to `out`; `run.py`
  * checks the outputs and turns the figures into metrics.
  */
object Harness {
  val cpus: Int = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt
  val errors = ArrayBuffer[String]()
  var attempted = 0

  /** Run one program operation; a thrown error counts as a failed op. */
  def op[A](what: String)(body: => A): Option[A] = {
    attempted += 1
    try Some(body)
    catch { case e: Throwable =>
      errors += s"$what: ${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(300)}"
      None
    }
  }

  def deleteTree(p: Path): Unit = if (Files.exists(p)) {
    val w = Files.walk(p)
    try w.iterator().asScala.toSeq.reverse.foreach(Files.delete) finally w.close()
  }

  /** Commit through Icelite and record what it wrote. */
  def commit(spark: SparkSession, df: DataFrame, table: String, fp: String): Icelite.Snapshot = {
    val snap = span("table.commit")(Icelite.commit(spark, df, table, fp))
    Layers.count("table.commits", 1)
    Layers.count("table.files", snap.files.size)
    Layers.count("table.rows", snap.rowCount)
    Layers.count("table.bytes", snap.files.map(f => Files.size(Paths.get(f.path)).toDouble).sum)
    snap
  }

  /** The session's explicitly set confs, from the first session recorded. */
  var confs: Map[String, String] = Map.empty
  def recordConfs(spark: SparkSession): Unit = if (confs.isEmpty)
    confs = spark.conf.getAll.filterNot { case (k, _) =>
      k.startsWith("spark.app.") || k == "spark.driver.port" || k == "spark.executor.id" }

  def noop(df: DataFrame): Unit = df.write.mode("overwrite").format("noop").save()

  def lastSpan(name: String): Trace.Span = Trace.spans.filter(_.name == name).last

  def secondsOf(name: String, rep: Trace.Span): Double =
    Trace.spans.filter(s => s.name == name && s.start >= rep.start && s.end <= rep.end)
      .map(Layers.dur).sum

  /** Read a shelved snapshot and count its rows per tile, three times (one
    * read is too short to time steadily); the counts go to the checks. */
  def scan(spark: SparkSession, table: String): Map[String, Long] =
    Seq.fill(3)(span("step.scan") {
      val df = span("table.read")(Icelite.read(spark, table))
      df.groupBy("tile_name").count().collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    }).last

  /** Median time of the scans inside a repetition. */
  def scanSeconds(rep: Trace.Span): Double = Layers.median(Trace.spans.toSeq
    .filter(s => s.name == "step.scan" && s.start >= rep.start && s.end <= rep.end).map(Layers.dur))

  def peakRssMb(): Double =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(-1.0)

  def main(args: Array[String]): Unit = {
    val o = args.map { a => val i = a.indexOf('='); a.take(i) -> a.drop(i + 1) }.toMap
    val traced = o("trace") == "1"
    if (traced) Trace.install()
    val work = Paths.get(o("work"))
    val res = LinkedHashMap[String, Any]()
    try o("workload") match {
      case "jobs_sf01" => JobsWorkload.run(o("input"), work, o("seconds").toDouble, traced, res)
      case "shelve_x2" => ShelveWorkload.run(o("input"), work, o("seconds").toDouble, traced, res)
    } finally deleteTree(work)
    if (traced) {
      val layers = LinkedHashMap[String, Any]() ++ Layers.compute(cpus)
      layers ++= Probes.run(o, res)
      res("layers") = layers
      res("commit_job_sites") = Layers.jobSites("table.commit").toMap
      res("qe_failures") = Trace.qeFailures
      res("spans") = Trace.spans.map(s => Seq(s.id, s.parent, s.name, s.start, s.end))
    }
    res("attempted") = attempted
    res("errors") = errors.toSeq
    res("confs") = confs
    res("peak_rss_mb") = peakRssMb()
    Files.writeString(Paths.get(o("out")), Json(res))
  }
}

/** The four spark-submit jobs on the sf0.1 documents table, in order, each
  * committing into an empty output root: once cold (the first sequence in
  * this fresh JVM), then warm until `seconds` have passed (at least twice;
  * once when traced, where the probes after the workload take the time).
  * Untraced, each job is `graft.jobs.Main.main` exactly as a user calls it;
  * traced, the same calls Main makes are made here so that spans can wrap
  * them. After each sequence the shelved snapshot is read back for checks. */
object JobsWorkload {
  import Harness._
  val Jobs = Seq("index", "shelve", "tile", "knn")
  val NumField = "\"(\\w+)\":(-?\\d+)".r

  def viaMain(job: String, input: String, root: String): Map[String, Long] = {
    val buf = new java.io.ByteArrayOutputStream()
    Console.withOut(new java.io.PrintStream(buf, true)) {
      graft.jobs.Main.main(Array(job, input, root))
    }
    val line = buf.toString("UTF-8").linesIterator.filter(_.startsWith("{")).toSeq.last
    NumField.findAllMatchIn(line).map(m => m.group(1) -> m.group(2).toLong).toMap
  }

  /** The body of `graft.jobs.Main` for the four jobs, call for call. */
  def decomposed(job: String, sfDir: String, outRoot: String): Map[String, Long] = {
    val spark = span("session.start")(Session.local(cpus, s"graft-$job"))
    try {
      job match {
        case "index" =>
          val (rows, diff) = IndexJob.run(spark, sfDir, s"$outRoot/index_job")
          Map("rows" -> rows, "check_diff" -> diff)
        case "shelve" =>
          val pts = span("pages.build")(Pages.fromDocuments(spark, sfDir))
          val tiles = Pages.tiles(spark).withColumn("ring",
            PipJoin.rectRing(col("x0"), col("y0"), col("x1"), col("y1")))
          val obs = Observation("shelve_job_metrics")
          val shelved = span("ops.shelve.build")(PipJoin.shelve(pts, tiles, "doc_id", "lon", "lat",
            "tile_name", "ring", observer = Some(obs)))
          val snap = commit(spark, shelved, s"$outRoot/shelved", s"shelve:$sfDir")
          val m = obs.get
          Map("rows" -> snap.rowCount, "skip_nomatch" -> m("skip_nomatch").toString.toLong,
            "skip_multi" -> m("skip_multi").toString.toLong)
        case "tile" =>
          val pages = span("pages.build")(Pages.fromDocuments(spark, sfDir))
          val stats = span("ops.tiling.build")(Tiling.coverageStats(pages))
          Map("tiles" -> commit(spark, stats, s"$outRoot/tile_stats", s"tile:$sfDir").rowCount)
        case "knn" =>
          val pts = span("pages.build")(Pages.fromDocuments(spark, sfDir))
          val knn = span("ops.knn.build")(KnnJoin.knnAuto(spark, pts, pts, "doc_id", "doc_id", k = 5))
          Map("rows" -> commit(spark, knn, s"$outRoot/knn", s"knn:$sfDir").rowCount)
      }
    } finally span("session.stop")(spark.stop())
  }

  def run(input: String, work: Path, seconds: Double, traced: Boolean,
          res: LinkedHashMap[String, Any]): Unit = {
    val seqs = ArrayBuffer[LinkedHashMap[String, Any]]()
    def sequence(kind: String): Unit = {
      val root = work.resolve(s"$kind-${seqs.size}")
      val r = LinkedHashMap[String, Any]("kind" -> kind)
      span(s"rep.$kind") {
        for (j <- Jobs) {
          val out = span(s"jobs.$j")(op(s"job $j") {
            if (traced) decomposed(j, input, root.toString) else viaMain(j, input, root.toString)
          })
          r(j) = out.getOrElse(Map.empty)
        }
        r("readback") = readBack(root.resolve("shelved").toString)
      }
      val rep = lastSpan(s"rep.$kind")
      Jobs.foreach(j => r(s"${j}_s") = secondsOf(s"jobs.$j", rep))
      r("scan_s") = scanSeconds(rep)
      seqs += r
      deleteTree(root)
    }
    sequence("cold")
    val t0 = System.nanoTime()
    if (traced) sequence("warm")
    else while (seqs.size < 3 || (System.nanoTime() - t0) / 1e9 < seconds) sequence("warm")
    res("sequences") = seqs.toSeq
  }

  /** Read the shelved snapshot back: per-tile counts for the check, timed
    * as the scan. */
  def readBack(table: String): Map[String, Long] = {
    val spark = span("session.start")(Session.local(cpus, "graft-readback"))
    recordConfs(spark)
    try op("read back shelved") {
      val counts = scan(spark, table)
      span("table.manifest_read")(Icelite.readManifest(table, Icelite.currentSnapshotId(table).get))
      counts
    }.getOrElse(Map.empty)
    finally spark.stop()
  }
}

/** The sf0.1 lineitem page keys x2, geocoded by the program's pages module,
  * in one session: shelve + commit, coverage stats + commit, and a read of
  * the shelved snapshot with a per-tile aggregate. The first repetition is
  * cold and warms the JVM up; then warm repetitions run until `seconds` have
  * passed (at least three; exactly three when traced). Every repetition
  * commits into a fresh table root that is deleted afterwards. */
object ShelveWorkload {
  import Harness._

  def pages(spark: SparkSession, input: String): DataFrame = span("pages.build") {
    Pages.fromLineitem(spark, input)
  }

  /** Pages with the two attributes coverage stats aggregate, derived from the
    * key the same way the checks in `gen.py` derive them. */
  def withAttrs(df: DataFrame): DataFrame = df
    .withColumn("lang", element_at(array(Seq("en", "zh", "es", "de", "fr").map(lit): _*),
      (pmod(col("page_id"), lit(5L)) + 1).cast("int")))
    .withColumn("n_chars", pmod(col("page_id"), lit(500L)) + 48L)

  def tiles(spark: SparkSession): DataFrame = Pages.tiles(spark).withColumn("ring",
    PipJoin.rectRing(col("x0"), col("y0"), col("x1"), col("y1")))

  def run(input: String, work: Path, seconds: Double, traced: Boolean,
          res: LinkedHashMap[String, Any]): Unit = {
    val t0 = System.nanoTime()
    val spark = span("session.start")(Session.local(cpus, "graft-perfbench"))
    res("session_start_s") = (System.nanoTime() - t0) / 1e9
    recordConfs(spark)
    val reps = ArrayBuffer[LinkedHashMap[String, Any]]()
    def repetition(kind: String): Unit = {
      val root = work.resolve(s"rep-${reps.size}")
      val r = LinkedHashMap[String, Any]("kind" -> kind)
      span(s"rep.$kind") {
        span("step.shelve")(op("shelve + commit") {
          val obs = Observation(s"shelve_${reps.size}")
          val shelved = span("ops.shelve.build")(PipJoin.shelve(pages(spark, input), tiles(spark),
            "page_id", "lon", "lat", "tile_name", "ring", observer = Some(obs)))
          val snap = commit(spark, shelved, root.resolve("shelved").toString, "shelve")
          val m = obs.get
          r("shelved") = snap.rowCount
          r("skip_nomatch") = m("skip_nomatch")
          r("skip_multi") = m("skip_multi")
        })
        span("step.tile")(op("coverage stats + commit") {
          val stats = span("ops.tiling.build")(Tiling.coverageStats(withAttrs(pages(spark, input))))
          val snap = commit(spark, stats, root.resolve("tile_stats").toString, "tile")
          r("tiles") = snap.rowCount
        })
        op("read + per-tile aggregate") {
          r("per_tile") = scan(spark, root.resolve("shelved").toString)
        }
        op("read coverage stats back") {
          r("tile_rows") = Icelite.read(spark, root.resolve("tile_stats").toString)
            .agg(sum("n_rows")).head().getLong(0)
        }
        span("table.manifest_read") {
          val t = root.resolve("shelved").toString
          Icelite.readManifest(t, Icelite.currentSnapshotId(t).get)
        }
      }
      val rep = lastSpan(s"rep.$kind")
      for (s <- Seq("shelve", "tile")) r(s"${s}_s") = secondsOf(s"step.$s", rep)
      r("scan_s") = scanSeconds(rep)
      if (reps.nonEmpty) reps.last.remove("per_tile") // only the last one is checked
      reps += r
      deleteTree(root)
    }
    try {
      repetition("cold")
      val t0 = System.nanoTime()
      if (traced) Seq.fill(3)(repetition("warm"))
      else while (reps.size < 4 || (System.nanoTime() - t0) / 1e9 < seconds) repetition("warm")
      res("repetitions") = reps.toSeq
    } finally spark.stop()
  }
}
