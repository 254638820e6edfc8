package graft.sources

import org.apache.spark.sql.{DataFrame, Dataset, GraftBridge, SparkSession}
import org.apache.spark.sql.functions._

import graft.cache.SparkCache
import graft.datasets.CachedDataset
import graft.operators.Records
import graft.protocol._

/**
 * User-facing facade: the Spark-native analog of the reference's
 * `Source.read(cache, ...)` → `ReadResult` → `result[stream]` flow
 * (`airbyte/sources/base.py:838-916`, `airbyte/results.py:32-144`).
 *
 * A Source here is anything that can produce a protocol message stream or
 * per-stream record frames. `JsonlSource` consumes the Airbyte wire
 * format (one protocol message per line — what a connector subprocess
 * writes to stdout); `FrameSource` adapts already-loaded DataFrames
 * (e.g. parquet scans) for testing and bulk loads.
 */
trait Source {
  def name: String
  def catalog: ConfiguredCatalog

  /** Record payload JSONL per selected stream. */
  def recordJsonl(spark: SparkSession, stream: String): Dataset[String]

  /**
   * Run the ELT pipeline: for each selected stream, normalize records to
   * the declared schema + metadata columns and finalize into the cache
   * with the resolved write strategy. Returns the read result.
   */
  def read(
      cache: SparkCache,
      spark: SparkSession,
      streams: Seq[String] = Seq.empty,
      writeStrategy: WriteStrategy = WriteStrategy.Auto,
      forceFullRefresh: Boolean = false): ReadResult = {
    val selected = if (streams.isEmpty) catalog.streamNames else streams
    cache.preRegisterStreams(selected) // one append job, not one per stream
    selected.foreach { s =>
      val jsonl = recordJsonl(spark, s)
      val declared = catalog(s).parseSchema
      val normalized = Records.normalize(jsonl, declared)
      val strategy =
        if (forceFullRefresh) WriteStrategy.Replace else writeStrategy
      cache.writeStream(s, normalized, catalog, strategy)
    }
    new ReadResult(cache, selected)
  }
}

/** Result mapping stream name → CachedDataset (reference ReadResult).
  * Per-stream row tallies (A5 progress counters) are computed lazily on
  * first access, every stream in one job ([[GraftBridge.countEach]]). */
final class ReadResult(val cache: SparkCache, val streamNames: Seq[String]) {
  lazy val counts: Map[String, Long] =
    streamNames.zip(GraftBridge.countEach(streamNames.map(cache.table))).toMap
  def apply(stream: String): CachedDataset = new CachedDataset(cache, stream)
  def contains(stream: String): Boolean = streamNames.contains(stream)
}

/** Source over Airbyte-protocol JSONL files/datasets (S1/S3). `lines`
  * is called once per selected stream on `read`; see there for why it
  * should return datasets with identical plans. */
final class JsonlSource(
    val name: String,
    val catalog: ConfiguredCatalog,
    lines: SparkSession => Dataset[String]) extends Source {

  /** Record payloads for one stream: the exact `data` object text of
    * its RECORD lines, split on executors like `read` does. */
  override def recordJsonl(spark: SparkSession, stream: String): Dataset[String] = {
    import spark.implicits._
    Records.streamEnvelopes(Records.protocolEnvelopes(lines(spark)), stream)
      .where(col("data").isNotNull).select("data").as[String]
  }

  /** Hot-path override: one Jackson envelope split per line
    * (`Records.protocolEnvelopes`), then a `from_json` over the selected
    * stream's `data` payloads only.
    *
    * `lines` is called once per selected stream, right before that
    * stream's normalize and write. With more than one stream selected,
    * the first stream's envelopes are persisted until the read ends, and
    * the later streams' envelope plans are served from that cache: the
    * file is scanned and split once per read, not once per stream. The
    * reuse needs `lines` to return datasets with identical plans; with
    * plans that differ the results stay the same, but the file is split
    * once per stream again. */
  override def read(
      cache: SparkCache,
      spark: SparkSession,
      streams: Seq[String],
      writeStrategy: WriteStrategy,
      forceFullRefresh: Boolean): ReadResult = {
    val selected = if (streams.isEmpty) catalog.streamNames else streams
    cache.preRegisterStreams(selected)
    var shared: Option[DataFrame] = None
    try selected.foreach { s =>
      val envelopes = Records.protocolEnvelopes(lines(spark))
      if (shared.isEmpty && selected.size > 1) shared = Some(envelopes.persist())
      val normalized = Records.streamRecords(envelopes, s, catalog(s).parseSchema)
      val strategy =
        if (forceFullRefresh) WriteStrategy.Replace else writeStrategy
      cache.writeStream(s, normalized, catalog, strategy)
    } finally shared.foreach(_.unpersist())
    new ReadResult(cache, selected)
  }
}

/** Source over pre-loaded DataFrames (tests, parquet bulk loads). */
final class FrameSource(
    val name: String,
    val catalog: ConfiguredCatalog,
    frames: Map[String, SparkSession => DataFrame]) extends Source {

  override def recordJsonl(spark: SparkSession, stream: String): Dataset[String] = {
    import spark.implicits._
    val df = frames(stream)(spark)
    df.select(to_json(struct(df.columns.map(col).toSeq: _*)).as("j")).as[String]
  }

  /** Short-circuit: frames skip the JSONL round trip for bulk loads while
    * keeping identical projection semantics. */
  override def read(
      cache: SparkCache,
      spark: SparkSession,
      streams: Seq[String],
      writeStrategy: WriteStrategy,
      forceFullRefresh: Boolean): ReadResult = {
    val selected = if (streams.isEmpty) catalog.streamNames else streams
    cache.preRegisterStreams(selected)
    selected.foreach { s =>
      val df = frames(s)(spark)
      val declared = catalog(s).parseSchema
      val shaped =
        if (declared.fields.nonEmpty) Records.project(df, declared) else df
      val normalized = Records.addMetadata(shaped)
      val strategy =
        if (forceFullRefresh) WriteStrategy.Replace else writeStrategy
      cache.writeStream(s, normalized, catalog, strategy)
    }
    new ReadResult(cache, selected)
  }
}
