package graft.datasets

import org.apache.spark.sql.{Column, DataFrame, GraftBridge, Row}
import org.apache.spark.sql.functions._

import graft.cache.SparkCache
import graft.operators.Records

/**
 * The dataset query surface over a cached stream table.
 *
 * Mirrors the reference's `CachedDataset`/`SQLDataset`
 * (`airbyte/datasets/_sql.py:37-231`): lazy SELECT over the stream's
 * table, chainable `with_filter`, cached count, iteration, and pandas/
 * arrow-style exports. In Spark the "unexecuted query" is literally the
 * unexecuted logical plan, and Catalyst pushes the accumulated filters
 * into the scan (the reference concatenates WHERE clauses textually).
 */
final class CachedDataset private (
    val cache: SparkCache,
    val streamName: String,
    private val plan: DataFrame,
    private var cachedCount: Option[Long]) {

  def this(cache: SparkCache, streamName: String) =
    this(cache, streamName, cache.table(streamName), None)

  /** The underlying lazy DataFrame (full logical plan). */
  def toDF: DataFrame = plan

  /** AND-combine another predicate (reference `with_filter`, P4).
    * Accepts SQL text or Columns; chainable. */
  def withFilter(predicate: String): CachedDataset =
    new CachedDataset(cache, streamName, plan.filter(expr(predicate)), None)

  def withFilter(predicate: Column): CachedDataset =
    new CachedDataset(cache, streamName, plan.filter(predicate), None)

  /** Row count, cached after first evaluation (reference `__len__`, A2).
    * One job with no exchange ([[GraftBridge.count]]), visible to
    * listeners as one SQL execution. */
  def count(): Long = cachedCount.getOrElse {
    val c = GraftBridge.count(plan); cachedCount = Some(c); c
  }

  /** Pull-based iteration in partition order (Q3). Rows are fetched one
    * chunk of partitions per job ([[GraftBridge.localIterator]]): the
    * tasks of a chunk run in parallel, and the driver holds at most one
    * chunk of partitions at a time, not the whole table. */
  def iterator(): Iterator[Row] = GraftBridge.localIterator(plan)

  /** First n rows (reference `fetch_many`/samples, L2/L3). */
  def take(n: Int): Array[Row] = plan.limit(n).collect()

  /** Records without the `_airbyte_*` metadata columns (P5). */
  def withoutInternalColumns: DataFrame = Records.dropInternalColumns(plan)

  /** Chunked Arrow IPC export (reference S11 `to_arrow`, 100k-row
    * chunks): self-describing record batches produced in parallel on
    * executors; consume distributed or `collect()` for a driver-side
    * Arrow table's worth of bytes. */
  def toArrowBatches(maxRecordsPerBatch: Long = 100000L): org.apache.spark.rdd.RDD[Array[Byte]] =
    GraftBridge.toArrowBatches(plan, maxRecordsPerBatch)

  /** Column names, internal columns excluded. */
  def columnNames: Seq[String] =
    plan.columns.toSeq.filterNot(Records.InternalColumns.contains)

  /** Render to LLM documents (reference `to_documents`, F8). */
  def toDocuments(
      titleCol: String,
      contentCols: Seq[String],
      metadataCols: Seq[String] = Seq.empty,
      renderMetadata: Boolean = false) =
    Documents.render(withoutInternalColumns, titleCol, contentCols,
      metadataCols, renderMetadata)
}
