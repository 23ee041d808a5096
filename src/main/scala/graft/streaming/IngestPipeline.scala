package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import graft.operators.GraftOps
import graft.sources.Sink

/** The reference system's end-to-end role, Spark-first: a continuously
  * arriving raw feed → watermarked exactly-once dedup → idempotent keyed
  * store (SURVEY §0 [PUBLIC]: graphsense-datafeed ingested blocks/txs/
  * rates into a Cassandra raw keyspace; the checkout is empty, no
  * file:line exists). Here: Structured Streaming file replay →
  * [[EventStreams.dedup]] (`dropDuplicatesWithinWatermark`) →
  * `foreachBatch` into any [[graft.sources.Sink]]. With a
  * Cassandra-connector-backed Sink this IS that service; offline it
  * lands in per-batch parquet directories.
  *
  * Exactly-once across failures — the standard foreachBatch recipe,
  * tested by StreamingSpec's kill/restart case:
  *  1. the checkpoint replays an uncommitted epoch under the SAME
  *     batch id after a crash/stop;
  *  2. each batch lands under `table/batch=<id>` — an overwrite-mode
  *     Sink makes the replay idempotent (a torn first write is simply
  *     rewritten), exactly the Cassandra-upsert discipline;
  *  3. a [[graft.sources.KeyedUpsertSink]] keeps each key's
  *     highest-version row within the batch. The dedup has already
  *     kept one row per `event_id` in the batch, and each batch is
  *     declared unique on it ([[graft.operators.GraftOps.uniqueOn]]),
  *     so a sink keyed on `event_id` (or on any key set containing it)
  *     plans as a write-through: no top-1, no exchange, no hash map. A
  *     sink keyed on another column (several events per key in one
  *     batch) still resolves with the hash top-1.
  * The dedup lands a re-sent `event_id` in only one epoch: a re-send
  * carries the first copy's event time, so the id's state (kept until
  * the watermark passes that time plus the delay) or the late-data
  * filter drops it; the checkpoint restores that state after a restart.
  * So per-key exactly-once holds end-to-end for re-sends. Readers see
  * the union via partition discovery (`batch` becomes a partition
  * column).
  *
  * Scale notes: dedup state is keyed by event_id and holds about one
  * watermark horizon of ids; foreachBatch batches are written by the
  * executors that own them (no driver collection).
  */
object IngestPipeline {
  def start(events: DataFrame, sink: Sink, table: String,
      checkpointDir: String, watermark: String = "10 minutes"): StreamingQuery =
    EventStreams.dedup(events, watermark)
      .writeStream
      .option("checkpointLocation", checkpointDir)
      .outputMode("append")
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        sink.write(
          GraftOps.uniqueOn(batch, Seq(EventStreams.DedupKey)).drop("tstamp"),
          s"$table/batch=$batchId")
      }
      .trigger(Trigger.AvailableNow())
      .start()
}
