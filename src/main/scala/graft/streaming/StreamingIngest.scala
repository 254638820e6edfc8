package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types._

import graft.cache.SparkCache
import graft.operators.Records
import graft.protocol.{AirbyteMessage, ConfiguredCatalog, WriteStrategy}

/**
 * Streaming ingestion: the reference's message loop (ST1/ST2,
 * `airbyte/shared/sql_processor.py:305-378`) re-expressed as Structured
 * Streaming `foreachBatch`.
 *
 * Reference semantics mapped:
 *  - micro-batch ≈ the reference's 100k-record JSONL batch boundary
 *    (`_writers/file_writers.py:33`) — here Spark's trigger interval /
 *    file chunking controls batch size;
 *  - per-batch finalize (append/merge into the final table) followed by
 *    state write IN THE SAME batch function ≈ "state finalized only after
 *    batches land" at-least-once contract (ST2);
 *  - the sink is AT-LEAST-ONCE: Structured Streaming's checkpoint
 *    replays a micro-batch whose commit did not land, and the
 *    `batch_id` written into state is never read back to skip an
 *    already-written batch, so an append-only batch replayed after
 *    its write landed is written twice. Merge idempotency absorbs
 *    replays for PK streams. A batch-id guard for append streams is
 *    open work (ROADMAP direction 6).
 *
 * At scale: the streaming source partitions land on executors; the only
 * shuffle is merge's window-by-PK. Watermarking (ST7) bounds state for
 * windowed aggregations.
 */
object StreamingIngest {

  /**
   * Ingest a stream of raw JSONL record payloads into the cache.
   * Each micro-batch: normalize → write with the stream's strategy →
   * checkpoint state (max cursor seen) in the same batch scope.
   */
  def ingestJsonl(
      jsonl: Dataset[String],
      declared: StructType,
      cache: SparkCache,
      catalog: ConfiguredCatalog,
      streamName: String,
      sourceName: String = "stream",
      cursorField: Option[String] = None,
      checkpointDir: String): StreamingQuery = {
    jsonl.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: Dataset[String], batchId: Long) =>
        val normalized = Records.normalize(batch, declared)
        if (!normalized.isEmpty) {
          cache.writeStream(streamName, normalized, catalog)
          cursorField.foreach { cf =>
            val maxCursor = normalized.agg(max(col(cf)).cast(StringType))
              .collect()(0).getString(0)
            if (maxCursor != null)
              cache.writeState(sourceName, streamName,
                s"""{"cursor":${AirbyteMessage.mapper.writeValueAsString(maxCursor)},"batch_id":$batchId}""")
          }
        }
        ()
      }
      .start()
  }

  /**
   * Event-time tumbling-window aggregation with watermark (ST7 — absent
   * in the reference, required for the events stream at scale): counts
   * and sums per (window, event_type); late data beyond the watermark is
   * dropped, bounding state.
   */
  def windowedCounts(
      events: DataFrame,
      tsCol: String = "ts",
      window_ : String = "1 hour",
      watermark: String = "2 hours"): DataFrame =
    events
      .withWatermark(tsCol, watermark)
      .groupBy(window(col(tsCol), window_), col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("value")).as("sum_value"))
      .select(col("window.start").as("window_start"), col("event_type"),
        col("n"), col("sum_value"))

  /**
   * Stream-static enrichment: join a live stream with a slowly-changing
   * dimension table. The static side is re-resolved per micro-batch (a
   * refreshed dim table is picked up on the next trigger) and broadcast
   * — each batch is a map-side hash join, no stream-side shuffle and no
   * join state to checkpoint (unlike stream-stream joins). The 100 TB
   * shape for enriching an event firehose against reference data.
   */
  def enrichWithStatic(
      stream: DataFrame,
      dim: DataFrame,
      keys: Seq[String],
      joinType: String = "left"): DataFrame =
    stream.join(broadcast(dim), keys, joinType)
}
