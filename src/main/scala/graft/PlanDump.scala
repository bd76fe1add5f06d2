package graft

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.execution.{ExplainMode, SQLExecution}

/** Dumps the plans of the headline queries to one markdown file — the
  * plan-shape evidence (pushdown, broadcast, partial agg, codegen spans) the
  * engine is designed around. Each query's section holds the formatted
  * explain plus the AQE-final executed plan.
  *
  * Usage: SPARK_GRAFT_SF_DIR=<sfDir> runMain graft.PlanDump [outFile] [query ...]
  * (outFile defaults to PLANS.md; an empty query list dumps [[Picks]]).
  */
object PlanDump {
  val Picks: Seq[String] = Seq("q_pip_shelve", "q_pip_left", "q_knn", "q_geocell_counts",
    "q_tile_coverage", "q_canonical_scene", "q_region_join", "q_minhash_bands",
    "q_minhash_pairs", "q_ann_brute",
    "q_fingerprint", "q_salted_join", "q_stac_assembly", "q_item_fetch",
    "q_strip_master_all", "q_lsh_pairs", "q_custom_paths",
    "q_lsh_pairs_banded", "q_url_template",
    "q_boilerplate", "q_url_normalize", "q_dedup_keep",
    "q_corpus_select", "q_repetition", "q_pii_scrub", "q_chunks",
    "q_pack_bins", "q_sample_mix", "q_shuffle_shards")

  def main(args: Array[String]): Unit = {
    val outFile = args.headOption.getOrElse("PLANS.md")
    val names = if (args.length > 1) args.drop(1).toSeq else Picks
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR",
      sys.error("SPARK_GRAFT_SF_DIR must name a generated scale-factor directory"))
    val spark = Session.local(4, "graft-plandump")
    val sb = new StringBuilder
    sb.append("# PLANS — physical plans of headline queries (generated)\n\n")
    sb.append("Generated by `runMain graft.PlanDump [outFile] [query ...]`. " +
      "Things to see: `PushedFilters`/`ReadSchema` on scans, " +
      "`BroadcastHashJoin` for dim/poly sides, two-level `HashAggregate` " +
      "(partial+final), `WholeStageCodegen` spans around the custom expressions.\n")
    for (name <- names) {
      val qe = SparkEntry.queries(name)(spark, sfDir).queryExecution
      // run the query through its OWN QueryExecution so AQE finalizes the
      // plan printed below (a write action would plan a separate execution)
      SQLExecution.withNewExecutionId(qe, Some(name))(qe.toRdd.foreach(_ => ()))
      sb.append(s"\n## $name\n\n```\n")
      sb.append(qe.explainString(ExplainMode.fromString("formatted")))
      sb.append("\n\n== Executed (AQE final) ==\n")
      sb.append(qe.executedPlan.toString)
      sb.append("\n```\n")
    }
    Files.writeString(Paths.get(outFile), sb.toString)
    println(s"wrote $outFile (${names.size} plans)")
    spark.stop()
  }
}
