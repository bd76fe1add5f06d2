package graft.streaming

import java.sql.Timestamp
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Structured Streaming operators over the events table shape
  * (event_id, ts, user_id, event_type, value).
  *
  * The reference is pure batch (SURVEY.md §2.9), so these are the graft's
  * forward-looking stream equivalents: the windowed aggregation mirrors
  * q_event_window's batch semantics, and sessionization shows the
  * `flatMapGroupsWithState` custom-state path the north star calls for.
  *
  * Scale: watermark bounds state; the window agg is a streaming hash
  * aggregate partitioned by (window, event_type); sessionization partitions
  * by user_id — both shuffle once per micro-batch.
  */
object EventStream {

  case class Event(event_id: Long, ts: Timestamp, user_id: Long,
                   event_type: String, value: Double)
  case class SessionState(start: Long, last: Long, n: Long, sum: Double)
  case class Session(user_id: Long, start_epoch: Long, end_epoch: Long,
                     n_events: Long, sum_value: Double)

  /** Tumbling 1-hour windowed count/sum with a 2-hour watermark. */
  def windowedAgg(events: DataFrame): DataFrame =
    events
      .withColumn("ts", col("ts").cast("timestamp"))
      .withWatermark("ts", "2 hours")
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"), round(sum(col("value")), 4).as("sum_value"))
      .select(col("window.start").cast("long").as("hr_epoch"),
        col("event_type"), col("n"), col("sum_value"))

  /** Streaming flagship spine: geocode pages as they arrive (event time =
    * warc_ts) and maintain per-(hour, geocell) index counts — the streaming
    * twin of the index job's geocell aggregation. Watermark bounds state;
    * one shuffle per micro-batch on (window, geocell).
    */
  def streamingGeocellCounts(pages: DataFrame): DataFrame =
    pages
      .withColumn("warc_ts", col("warc_ts").cast("timestamp"))
      .withWatermark("warc_ts", "2 hours")
      .withColumn("geocell",
        graft.cells.Cells.geocellCol(col("lon"), col("lat")))
      .groupBy(window(col("warc_ts"), "1 hour"), col("geocell"))
      .agg(count(lit(1)).as("n"))
      .select(col("window.start").cast("long").as("hr_epoch"),
        col("geocell"), col("n"))

  /** Streaming shelve: pages PIP-shelved against the STATIC tile grid as
    * they arrive (stream-static broadcast join — the tile side is a
    * dimension, so micro-batches never shuffle the stream), then windowed
    * per-tile counts. The streaming twin of the flagship shelve → aggregate
    * spine; exactly-one semantics (and the skip metrics) come from the same
    * [[graft.ops.PipJoin.shelve]] the batch path uses.
    */
  def streamingShelveCounts(pages: DataFrame, tiles: DataFrame,
                            watermark: String = "2 hours"): DataFrame = {
    val withWm = pages
      .withColumn("warc_ts", col("warc_ts").cast("timestamp"))
      .withWatermark("warc_ts", watermark)
    val shelved = graft.ops.PipJoin.shelve(withWm, tiles,
      "doc_id", "lon", "lat", "tile_name", "ring")
    shelved
      .groupBy(window(col("warc_ts"), "1 hour"), col("tile_name"))
      .agg(count(lit(1)).as("n"))
      .select(col("window.start").cast("long").as("hr_epoch"),
        col("tile_name"), col("n"))
  }

  /** End-to-end streaming spine for the `stream` job: [[streamingShelveCounts]]
    * in UPDATE mode, each micro-batch MERGE-upserted into an Icelite table on
    * the (hr_epoch, tile_name) window key — the streaming twin of the batch
    * job's `INSERT … ON CONFLICT DO UPDATE` flow. A window's count row is
    * re-emitted (and re-upserted) every batch that advances it, so the sink
    * converges to the batch result; a killed job resumes from the stream
    * checkpoint plus the last committed snapshot, and Icelite.merge frees its
    * per-batch checkpoint blocks, so the loop runs indefinitely.
    */
  def runShelveCountsToIcelite(spark: SparkSession, pages: DataFrame,
                               tiles: DataFrame, table: String,
                               checkpointDir: String,
                               trigger: org.apache.spark.sql.streaming.Trigger =
                                 org.apache.spark.sql.streaming.Trigger.ProcessingTime(0L),
                               watermark: String = "2 hours")
      : org.apache.spark.sql.streaming.StreamingQuery =
    streamingShelveCounts(pages, tiles, watermark = watermark)
      .writeStream
      .outputMode(OutputMode.Update())
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        if (!batch.isEmpty)
          graft.table.Icelite.merge(spark, batch.toDF(), table,
            Seq("hr_epoch", "tile_name"), inputFingerprint = s"batch:$batchId")
        ()
      }
      .start()

  /** Streaming NEAR-dup candidate gate: each micro-batch of documents runs
    * [[graft.text.TextOps.incrementalDedup]] — signatures computed once per
    * doc, bucket-joined against the persistent corpus band index (`sigTable`),
    * candidate pairs upserted into `pairsTable`. Both tables are Icelite
    * snapshots, so a killed job resumes from the stream checkpoint plus the
    * last committed snapshots and converges (the per-batch pair set is
    * idempotent, and merge dedups on (doc_a, doc_b)). State lives in the
    * snapshot table — NOT in streaming state — so the corpus index outlives
    * the query, is shared with batch jobs, and is never bounded by executor
    * memory: the streaming counterpart of what mapGroupsWithState could
    * never hold at 10^12 docs.
    */
  def runIncrementalDedup(spark: SparkSession, docs: DataFrame,
                          sigTable: String, pairsTable: String,
                          checkpointDir: String,
                          trigger: org.apache.spark.sql.streaming.Trigger =
                            org.apache.spark.sql.streaming.Trigger.ProcessingTime(0L))
      : org.apache.spark.sql.streaming.StreamingQuery =
    docs.writeStream
      .outputMode(OutputMode.Append())
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        if (!batch.isEmpty) {
          graft.text.TextOps.incrementalDedup(spark, batch.toDF(), sigTable) { pairs =>
            // pinned so the emptiness probe and the merge share one pass
            graft.Session.pinned(pairs) { p =>
              if (!p.isEmpty)
                graft.table.Icelite.merge(spark, p, pairsTable,
                  Seq("doc_a", "doc_b"), inputFingerprint = s"batch:$batchId")
            }
          }
        }
        ()
      }
      .start()

  /** Streaming exact dedup on the record id — the training-ingest "have we
    * seen this document before" gate. `dropDuplicatesWithinWatermark` keys
    * state by event_id and evicts entries once the watermark passes, so
    * state stays bounded by (arrival skew × ingest rate), not by history —
    * the property that makes this runnable forever at 100 TB/day.
    */
  def streamingDedup(events: DataFrame): DataFrame =
    events
      .withColumn("ts", col("ts").cast("timestamp"))
      .withWatermark("ts", "2 hours")
      .dropDuplicatesWithinWatermark("event_id")

  /** Per-user sessionization: a session closes after `gapSeconds` of
    * inactivity (event-time, driven by the watermark).
    */
  def sessionize(spark: SparkSession, events: Dataset[Event],
                 gapSeconds: Long = 1800): Dataset[Session] = {
    import spark.implicits._
    events
      .withWatermark("ts", "2 hours")
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[SessionState, Session](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        (userId: Long, rows: Iterator[Event], state: GroupState[SessionState]) =>
          if (state.hasTimedOut) {
            val s = state.get
            state.remove()
            Iterator(Session(userId, s.start, s.last, s.n, s.sum))
          } else {
            val sorted = rows.toSeq.sortBy(_.ts.getTime)
            var cur = state.getOption
            val out = scala.collection.mutable.ArrayBuffer[Session]()
            sorted.foreach { e =>
              val t = e.ts.getTime / 1000
              cur match {
                case Some(s) if t - s.last <= gapSeconds =>
                  cur = Some(SessionState(s.start, t, s.n + 1, s.sum + e.value))
                case Some(s) =>
                  out += Session(userId, s.start, s.last, s.n, s.sum)
                  cur = Some(SessionState(t, t, 1, e.value))
                case None =>
                  cur = Some(SessionState(t, t, 1, e.value))
              }
            }
            cur.foreach { s =>
              state.update(s)
              state.setTimeoutTimestamp(s.last * 1000 + gapSeconds * 1000)
            }
            out.iterator
          }
      }
  }
}
