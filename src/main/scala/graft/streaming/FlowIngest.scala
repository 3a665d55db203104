package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.streaming.{OutputMode, StreamingQuery, Trigger}
import graft.store.FlowStore

/** Streaming ingestion (SURVEY §3.4): decoded-flow stream → enrichment →
  * fan-out into the store (main + rollups + exporters), the Spark shape of
  * the reference's outlet worker + ClickHouse MVs.
  *
  * Rollup semantics follow §4.3: the reference has no watermarks — rollup
  * MVs bucket whatever arrives and SummingMergeTree merges late rows
  * silently. The faithful translation is [[start]]: per-batch appends with
  * query-time re-aggregation, so late data lands in its true bucket no
  * matter when it arrives.
  */
object FlowIngest {

  /** Start the ingest: each micro-batch is enriched (caller-provided
    * transform) then fanned into every table. Batch cadence mirrors the
    * reference's 50k-rows / 5s flush.
    */
  def start(stream: DataFrame, store: FlowStore, checkpoint: String,
      enrich: DataFrame => DataFrame = identity,
      trigger: Trigger = Trigger.ProcessingTime("5 seconds")): StreamingQuery =
    stream.writeStream
      .outputMode(OutputMode.Append)
      .option("checkpointLocation", checkpoint)
      .trigger(trigger)
      // batch id flows through to the store's per-table commit markers:
      // foreachBatch is at-least-once, and a replayed id must not append
      // its rows twice. writeBatch skips an empty batch on its own
      // cached frame: probing `batch` here would execute the stream's
      // plan twice and double every observe() count inside it
      .foreachBatch { (batch: DataFrame, id: Long) =>
        store.writeBatch(enrich(batch), Some(id))
      }
      .start()
}
