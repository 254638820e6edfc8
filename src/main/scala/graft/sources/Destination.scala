package graft.sources

import org.apache.spark.sql.{DataFrame, Dataset, GraftBridge, SparkSession}
import org.apache.spark.sql.functions._

import graft.cache.SparkCache
import graft.operators.Records
import graft.protocol.AirbyteMessage

/**
 * Destination replay (reference S9: `airbyte/destinations/base.py:310-363`,
 * replay generator `airbyte/_message_iterators.py:91-126`): cached stream
 * tables serialized back into Airbyte protocol RECORD messages, ready to
 * pump into a destination connector's stdin (`write --config --catalog`),
 * followed by the stream's final STATE message.
 *
 * The serialization is a distributed `to_json` projection; only the
 * consumption (subprocess stdin pump) is driver-side, via
 * `GraftBridge.localIterator`, which holds one chunk of partitions at a
 * time, never the whole table.
 */
object Destination {

  /** Consume a child process's merged stdout/stderr on a daemon thread.
    * Without this, a destination that logs more than the OS pipe buffer
    * (~64 KiB) blocks on write, stops reading its stdin, and the pump
    * deadlocks. The drained text is discarded — callers only care about
    * delivery counts. */
  private[graft] def drainInBackground(proc: Process): Thread = {
    val t = new Thread(() => {
      val in = proc.getInputStream
      val buf = new Array[Byte](8192)
      try { while (in.read(buf) >= 0) () } catch { case _: java.io.IOException => () }
    }, "graft-proc-drain")
    t.setDaemon(true)
    t.start()
    t
  }

  /** Protocol RECORD lines for one cached stream (metadata stripped). */
  def recordMessages(cache: SparkCache, streamName: String): Dataset[String] = {
    val spark = cache.spark
    import spark.implicits._
    val df = Records.dropInternalColumns(cache.table(streamName))
    val payload = to_json(struct(df.columns.map(col).toSeq: _*))
    df.select(
      concat(
        lit(s"""{"type":"RECORD","record":{"stream":${jsonString(streamName)},"data":"""),
        payload,
        lit(s""","emitted_at":"""),
        (unix_timestamp(current_timestamp()) * 1000).cast("string"),
        lit("}}")).as("line")).as[String]
  }

  /** Final STATE line for the stream (source's latest checkpoint). */
  def stateMessage(cache: SparkCache, sourceName: String, streamName: String): Option[String] =
    cache.latestState(sourceName, streamName).map { st =>
      s"""{"type":"STATE","state":{"type":"STREAM","stream":{"stream_descriptor":{"name":${jsonString(streamName)}},"stream_state":$st}}}"""
    }

  /** `s` as a quoted, escaped JSON string literal. */
  private def jsonString(s: String): String =
    AirbyteMessage.mapper.writeValueAsString(s)

  /**
   * Pump a stream into an external destination process
   * (`cmd` speaking the protocol on stdin). Driver-side consumer over a
   * chunked iterator — one chunk of partitions in memory at a time.
   * Returns records delivered.
   */
  def writeToProcess(
      cache: SparkCache, streamName: String, sourceName: String,
      cmd: Seq[String]): Long = {
    val pb = new ProcessBuilder(cmd: _*)
    pb.redirectErrorStream(true)
    val proc = pb.start()
    drainInBackground(proc)
    val out = new java.io.PrintWriter(proc.getOutputStream, false)
    var n = 0L
    try {
      GraftBridge.localIterator(recordMessages(cache, streamName))
        .foreach { line => out.println(line); n += 1 }
      stateMessage(cache, sourceName, streamName).foreach(out.println)
      out.flush()
    } finally {
      out.close()
      proc.waitFor()
    }
    n
  }
}
