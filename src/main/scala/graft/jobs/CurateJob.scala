package graft.jobs

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.Session
import graft.sources.Tables
import graft.table.Icelite
import graft.text.TextOps

/** The end-to-end corpus-curation job: raw web documents → training chunks,
  * composing the curation operator family in the order a production
  * pipeline runs it:
  *
  *  1. PII scrub ([[TextOps.piiScrub]]) — masked text + redaction counts
  *  2. selection ([[TextOps.corpusSelect]]) — duplicate-cluster
  *     representative ∧ quality ∧ boilerplate ∧ language
  *  3. mixing weights ([[TextOps.sampleMix]]) — deterministic per-language
  *     hash rates
  *  4. token budget ([[TextOps.tokenBudgetSharded]]) — per-(lang, shard)
  *     prefix-sum fill, no single-language partition
  *  5. chunking ([[TextOps.chunkWindows]]) — fixed-size overlapping token
  *     windows over the SCRUBBED text
  *
  * The chunk table is committed as an Icelite snapshot keyed by the input
  * fingerprint; per-stage doc counts come back for the job's metrics line.
  * Every stage is narrow or bucket-bounded (see the operator scaladocs), so
  * the composition inherits the 100 TB story of its parts.
  */
object CurateJob {

  case class Result(docsIn: Long, selected: Long, sampled: Long,
                    budgeted: Long, chunks: Long, chunkTokens: Long,
                    snapshotId: Long)

  def run(spark: SparkSession, sfDir: String, outRoot: String,
          rates: Map[String, Double] = Map("en" -> 0.9, "de" -> 0.5),
          defaultRate: Double = 0.25,
          budgetPerShard: Long = 50000L, nShards: Int = 8,
          chunkSize: Int = 64, stride: Int = 48): Result = {
    val docs = Tables.read(spark, sfDir, "documents")

    // 1. scrub (kept separate from selection: quality/dedup signals must see
    // the ORIGINAL text — a mass-masked page should score as its raw self)
    val scrubbed = TextOps.piiScrub(docs)
      .select(col("doc_id"), col("clean_text"))

    // Each stage's surviving IDS are pinned: an id frame is tiny relative
    // to the corpus, and without the pin every downstream action (the next
    // stage's semi-join, the commit, each metrics count) would re-run the
    // whole selection pipeline — corpusSelect alone carries the
    // minhash/cluster/boilerplate shuffles — from the scan up.
    // 2-3. survivors ∩ sample
    Session.pinned(TextOps.corpusSelect(docs).select("doc_id")) { selectedIds =>
      val sampledIds = TextOps.sampleMix(docs, rates, defaultRate).select("doc_id")
      Session.pinned(selectedIds.join(sampledIds, Seq("doc_id"), "left_semi")) { mixedIds =>
        // 4. budget fill over the mixed set (deterministic doc_id order)
        val mixedDocs = docs.select(col("doc_id"), col("lang"), col("text"))
          .join(mixedIds, Seq("doc_id"), "left_semi")
        Session.pinned(TextOps.tokenBudgetSharded(
            mixedDocs, budgetPerShard, nShards).select("doc_id")) { budgetedIds =>
          // 5. chunk the SCRUBBED text of the budgeted survivors
          val toChunk = scrubbed.join(budgetedIds, Seq("doc_id"), "left_semi")
            .select(col("doc_id"), col("clean_text").as("text"))
          val chunks = TextOps.chunkWindows(toChunk, chunkSize, stride)

          val snap = Icelite.commit(spark, chunks, s"$outRoot/curated_chunks",
            s"curate:$sfDir")
          val chunkTokens = Icelite.read(spark, s"$outRoot/curated_chunks")
            .agg(coalesce(sum(col("n_chunk_tokens")), lit(0L))).head().getLong(0)
          Result(docs.count(), selectedIds.count(), mixedIds.count(),
            budgetedIds.count(), snap.rowCount, chunkTokens, snap.id)
        }
      }
    }
  }
}
