package graft

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.SparkSession

/** Driver-run benchmark: every SparkEntry query, fully evaluated through the
  * noop sink (count() alone would let Catalyst prune all columns), one JSON
  * line on stdout.
  *
  * Two passes since round 3: an UNTIMED warmup pass over the full query set,
  * then the timed pass(es). Rationale: one-time whole-stage-codegen
  * compilation + JVM JIT (~10 s across the set) was charged to whichever
  * queries the Map happened to iterate first, so ADDING a query reshuffled
  * the attribution and produced phantom per-query regressions between rounds
  * (round 2 → 3: q_simhash "0.53 → 4.5 s" with zero code change). The timed
  * passes report steady-state per-query cost — the figure that matters at
  * scale, where codegen/JIT amortizes over hours of executor lifetime. The
  * cold first-pass total is still printed as `cold_total` for the
  * one-time-cost record.
  *
  * EVIDENCE PROTOCOL (round 5): every invocation also writes a raw artifact
  * — one JSON file under `bench_runs/` (override: SPARK_GRAFT_BENCH_RUNS)
  * holding EVERY pass (warmup included) with per-query seconds and the
  * host's /proc/loadavg sampled before and after each pass, and the names
  * of the queries that failed in it (`failed`; their times are still in
  * `queries`, and the stdout line still counts them). Multi-pass
  * min-composites are then computed by `scripts/bench_composite.py` over the
  * committed artifacts instead of by-hand aggregation, so a round's headline
  * is reproducible from the repo alone and host-noise claims are checkable
  * in-band (the load columns) rather than narrative.
  * SPARK_GRAFT_BENCH_PASSES (default 1) adds timed passes within one
  * invocation; the stdout line's per-query figures are the min across the
  * invocation's timed passes (identical to the single pass when PASSES=1,
  * preserving the driver contract).
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val nPasses = sys.env.getOrElse("SPARK_GRAFT_BENCH_PASSES", "1").toInt
    val runsDir = sys.env.getOrElse("SPARK_GRAFT_BENCH_RUNS", "bench_runs")
    val spark = Session.local(cpus, "graft-bench")

    def loadAvg(): Double =
      try Files.readString(Paths.get("/proc/loadavg")).split(" ")(0).toDouble
      catch { case _: Throwable => -1.0 }

    case class Pass(kind: String, queries: Seq[(String, Double)], failed: Seq[String],
                    loadBefore: Double, loadAfter: Double)
    def runPass(kind: String): Pass = {
      val lb = loadAvg()
      val failed = Seq.newBuilder[String]
      val qs = SparkEntry.queries.toSeq.map { case (name, fn) =>
        val t0 = System.nanoTime()
        try fn(spark, sfDir).write.mode("overwrite").format("noop").save()
        catch { case e: Throwable =>
          System.err.println(s"[bench] $name failed: ${e.getMessage}")
          failed += name
        }
        name -> (System.nanoTime() - t0) / 1e9
      }
      Pass(kind, qs, failed.result(), lb, loadAvg())
    }

    val passes = runPass("warmup") +: (1 to nPasses).map(_ => runPass("timed"))

    def qJson(qs: Seq[(String, Double)]): String =
      qs.map { case (k, v) => "\"" + k + "\":" + v }.mkString("{", ",", "}")
    def passJson(p: Pass): String =
      s"""{"kind":"${p.kind}","total":${p.queries.map(_._2).sum},""" +
        s""""load_before":${p.loadBefore},"load_after":${p.loadAfter},""" +
        s""""failed":${p.failed.map("\"" + _ + "\"").mkString("[", ",", "]")},""" +
        s""""queries":${qJson(p.queries)}}"""

    val epochMs = System.currentTimeMillis()
    val runId = java.util.UUID.randomUUID().toString.take(8)
    val artifact = Paths.get(runsDir, s"run-$epochMs-$runId.json")
    Files.createDirectories(artifact.getParent)
    Files.writeString(artifact,
      s"""{"run_id":"$runId","epoch_ms":$epochMs,"sf":"$sfDir","cpus":$cpus,
         |"passes":[
         |${passes.map(passJson).mkString(",\n")}
         |]}""".stripMargin)

    // stdout contract: per-query MIN across this invocation's timed passes
    // (== the single timed pass when PASSES=1), warmup excluded
    val timed = passes.filter(_.kind == "timed")
    val best = timed.flatMap(_.queries).groupBy(_._1).toSeq
      .map { case (k, vs) => k -> vs.map(_._2).min }.sortBy(_._1)
    val total = best.map(_._2).sum
    val coldTotal = passes.head.queries.map(_._2).sum
    println(s"""{"metric":"total","value":$total,"unit":"sec","cold_total":$coldTotal,"timed_passes":${timed.size},"artifact":"$artifact","queries":${qJson(best)},"sf":"$sfDir"}""")
    spark.stop()
  }
}
