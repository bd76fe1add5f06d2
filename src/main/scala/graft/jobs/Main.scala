package graft.jobs

import org.apache.spark.sql.functions._
import graft.{Session, SparkEntry}
import graft.ops.{KnnJoin, PipJoin, StacDocs, Tiling}
import graft.pages.Pages
import graft.sources.Tables
import graft.table.Icelite

/** spark-submit entry points (north rule: "jobs run via spark-submit ...
  * checkpoint to snapshots ... resumable"). Each subcommand reads the driver
  * tables under `sfDir` and commits its output as an Icelite snapshot under
  * `outRoot/<job>`, so a re-run resumes/verifies rather than recomputing.
  *
  * Usage: spark-submit --class graft.jobs.Main <jar> <job> <sfDir> <outRoot>
  *   job ∈ index | shelve | tile | knn | stacdocs | stacmeta | stream |
  *         compact | dedup | curate | annindex
  */
object Main {
  def main(args: Array[String]): Unit = {
    require(args.length >= 3,
      "usage: <index|shelve|tile|knn|stacdocs|stacmeta|stream|compact|dedup|curate|annindex> <sfDir> <outRoot>")
    val Array(job, sfDir, outRoot) = args.take(3)
    val spark = Session.local(
      sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt, s"graft-$job")
    try {
      job match {
        case "index" =>
          val (rows, diff) = IndexJob.run(spark, sfDir, s"$outRoot/index_job")
          println(s"""{"job":"index","rows":$rows,"check_diff":$diff}""")
        case "shelve" =>
          val pts = Pages.fromDocuments(spark, sfDir)
          // J2 skip metrics surfaced in the job result (the reference warns
          // and counts 0-match / multi-match skips, lib/utils.py:694-702)
          val obs = org.apache.spark.sql.Observation("shelve_job_metrics")
          val shelved = PipJoin.shelve(pts, Pages.tiles(spark), "doc_id", "lon", "lat",
            "tile_name", "ring", observer = Some(obs))
          val snap = Icelite.commit(spark, shelved, s"$outRoot/shelved", s"shelve:$sfDir")
          val m = obs.get
          println(s"""{"job":"shelve","rows":${snap.rowCount},""" +
            s""""skip_nomatch":${m("skip_nomatch")},"skip_multi":${m("skip_multi")}}""")
        case "tile" =>
          val stats = Tiling.coverageStats(Pages.fromDocuments(spark, sfDir))
          val snap = Icelite.commit(spark, stats, s"$outRoot/tile_stats", s"tile:$sfDir")
          println(s"""{"job":"tile","tiles":${snap.rowCount}}""")
        case "knn" =>
          val pts = Pages.fromDocuments(spark, sfDir)
          // density-auto-picked ring level (KnnJoin.pickLevel)
          val knn = KnnJoin.knnAuto(spark, pts, pts, "doc_id", "doc_id", k = 5)
          val snap = Icelite.commit(spark, knn, s"$outRoot/knn", s"knn:$sfDir")
          println(s"""{"job":"knn","rows":${snap.rowCount}}""")
        case "stacdocs" =>
          val docs = StacDocs.itemDocs(Pages.fromDocuments(spark, sfDir))
          val snap = Icelite.commit(spark, docs, s"$outRoot/stac_items", s"stac:$sfDir")
          val tree = StacDocs.treeRollup(Pages.fromDocuments(spark, sfDir))
          Icelite.commit(spark, tree, s"$outRoot/stac_tree", s"stac:$sfDir")
          println(s"""{"job":"stacdocs","items":${snap.rowCount}}""")
        case "stream" =>
          // streaming spine end-to-end from spark-submit: file-source
          // micro-batches (one file per trigger so a multi-file table
          // exercises >= 2 batches) → stream-static broadcast PIP shelve →
          // windowed counts → Icelite-merged sink; AvailableNow drains the
          // source then terminates, like a batch-of-streams backfill
          // a file-stream source watches a DIRECTORY; stage the input file(s)
          // as symlinks so a multi-part table arrives as multiple batches
          import java.nio.file.{Files, Paths}
          val docs = Tables.path(sfDir, "documents")
          val inDir = Files.createDirectories(Paths.get(outRoot, "stream_in"))
          Tables.files(docs).zipWithIndex.foreach { case (f, i) =>
            val target = inDir.resolve(s"part-$i.parquet")
            if (!Files.exists(target)) Files.createSymbolicLink(target, Paths.get(f.getPath.toUri))
          }
          val docsSchema = Tables.schema(spark, docs)
          val docsStream = spark.readStream.schema(docsSchema)
            .option("maxFilesPerTrigger", "1")
            .parquet(inDir.toString)
          val table = s"$outRoot/stream_shelve_counts"
          // backfill watermark: file order is not event-time order, so a
          // live-sized watermark would silently drop whole files' rows once
          // an out-of-order earlier file follows a later one; a backfill
          // keeps all windows updatable (state = distinct windows, bounded)
          val q = graft.streaming.EventStream.runShelveCountsToIcelite(
            spark, Pages.pagesFromDocuments(docsStream), Pages.tiles(spark), table,
            s"$outRoot/stream_checkpoint",
            org.apache.spark.sql.streaming.Trigger.AvailableNow(),
            watermark = "87600 hours")
          q.awaitTermination()
          // every batch can be empty (e.g. all pages miss the tile grid):
          // report zero windows, not a crash on a never-created table
          Icelite.currentSnapshotId(table) match {
            case Some(id) =>
              val snap = Icelite.readManifest(table, id)
              println(s"""{"job":"stream","windows":${snap.rowCount},"snapshot":${snap.id}}""")
            case None =>
              println(s"""{"job":"stream","windows":0,"snapshot":null}""")
          }
        case "stacmeta" =>
          // extract_stac_metadata.py's flow: batched asset-info rows UPSERTED
          // into the metadata table (INSERT ... ON CONFLICT DO UPDATE →
          // Icelite.merge on the (collection, item_id, asset_key) PK).
          // Re-running the job converges instead of duplicating.
          val assets = graft.pages.Ladder.assetInfo(spark, sfDir)
          val snap = Icelite.merge(spark, assets, s"$outRoot/stac_asset_info",
            Seq("collection", "item_id", "asset_key"), s"stacmeta:$sfDir")
          println(s"""{"job":"stacmeta","rows":${snap.rowCount},"snapshot":${snap.id}}""")
        case "compact" =>
          // table maintenance from spark-submit: enforce the per-file size
          // bound on a merged table (Iceberg rewrite_data_files analog) and
          // GC expired snapshots afterwards
          val table = s"$outRoot/stac_asset_info"
          val (rewritten, files) = Icelite.compact(spark, table)
          val (mDel, fDel) = Icelite.expireSnapshots(table)
          println(s"""{"job":"compact","rewritten":$rewritten,"files":$files,""" +
            s""""manifests_expired":$mDel,"files_gcd":$fDel}""")
        case "dedup" =>
          // the full near-dup pipeline from spark-submit, MULTI-BATCH
          // correct: signatures upsert into the persistent band index
          // (incremental — a second sfDir batch only computes ITS
          // signatures), the batch's pairs and per-doc quality scores
          // accumulate into persistent tables, and keep-best is rebuilt from
          // the FULL corpus-so-far — a cluster whose higher-quality member
          // arrived in an earlier batch keeps that member, and earlier
          // batches' singleton survivors are never dropped by a later run.
          // A re-run converges (idempotent pairs, idempotent merges).
          val docs = Tables.read(spark, sfDir, "documents")
          graft.text.TextOps.incrementalDedup(spark, docs, s"$outRoot/dedup_sigs") { pairs =>
            Icelite.merge(spark, pairs, s"$outRoot/dedup_pairs",
              Seq("doc_a", "doc_b"), s"dedup-pairs:$sfDir")
          }
          Icelite.merge(spark,
            graft.text.TextOps.qualityScore(docs)
              .select(col("doc_id"), col("quality_score")),
            s"$outRoot/dedup_quality", Seq("doc_id"), s"dedup-quality:$sfDir")
          val allPairs = Icelite.read(spark, s"$outRoot/dedup_pairs")
          val scored = Icelite.read(spark, s"$outRoot/dedup_quality")
          val keep = graft.text.TextOps.keepBestScored(scored, allPairs)
          val snap = Icelite.commit(spark, keep, s"$outRoot/dedup_keep", s"dedup:$sfDir")
          val nDocs = scored.count() // corpus-so-far, not just this batch
          println(s"""{"job":"dedup","docs":$nDocs,"clusters":${snap.rowCount},""" +
            s""""dropped":${nDocs - snap.rowCount}}""")
        case "annindex" =>
          // ANN index build (one-time O(corpus)) + partition-pruned serving:
          // IVF assignments committed to Icelite CELL-CLUSTERED (repartition
          // by ivf_cell -> each data file holds whole cells -> the manifest
          // zone map on ivf_cell prunes every non-probed cell's files at
          // query time). A rebuild commit, not a merge: PK-hash slicing
          // would scatter cells across files and kill the clustering —
          // index refresh is a full (snapshot-versioned) rebuild, the
          // standard trade for a sorted/clustered index layout.
          import graft.sim.Ann
          val vecs = Tables.read(spark, sfDir, "embeddings")
          val idx = Ann.ivfAssign(vecs).repartition(Ann.IvfCells, col("ivf_cell"))
          val table = s"$outRoot/ann_index"
          val snap = Icelite.commit(spark, idx, table, s"annindex:$sfDir")
          // demonstrate the pruning on one probe (the commit's own Snapshot
          // already carries the file entries — no manifest re-read)
          val probeCell = 0L
          val openable = Icelite.pruneFiles(
            snap.files, "ivf_cell", probeCell, probeCell).size
          // a single-cell probe: queries AND neighbors both live in the
          // probed cell, so the pruned read IS the full working set
          val served = Ann.ivfTopKFromIndex(
            Icelite.readWhere(spark, table, "ivf_cell", probeCell, probeCell),
            col("vec_id") % 10 === 0, k = 5)
          println(s"""{"job":"annindex","vectors":${snap.rowCount},""" +
            s""""files":${snap.files.size},"files_probed":$openable,""" +
            s""""probe_results":${served.count()},"snapshot":${snap.id}}""")
        case "curate" =>
          // raw documents -> training chunks: scrub -> select -> mix ->
          // token-budget -> chunk, committed as a snapshot (see CurateJob)
          val r = CurateJob.run(spark, sfDir, outRoot)
          println(s"""{"job":"curate","docs":${r.docsIn},"selected":${r.selected},""" +
            s""""sampled":${r.sampled},"budgeted":${r.budgeted},""" +
            s""""chunks":${r.chunks},"chunk_tokens":${r.chunkTokens},""" +
            s""""snapshot":${r.snapshotId}}""")
        case other => sys.error(s"unknown job $other")
      }
    } finally spark.stop()
  }
}
