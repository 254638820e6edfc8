package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.cache.CacheTables

/**
 * Streaming exact-quantile monitor over a QUANTIZED value domain — the
 * sketch-family member that answers "what is p50/p90/p99 of this metric
 * per key right now" on an unbounded stream (latency dashboards, length
 * caps, drift thresholds feeding q130/q186-style audits).
 *
 * Design — exact, not approximate: values quantize to a fixed grid
 * (×`scale`, round-half-up — the suite's value-point convention, q186/
 * q239), and the state is the per-(key, grid-point) COUNT table. That
 * state is VALUE-DOMAIN-sized, independent of stream length — the same
 * bound the batch CDF queries rely on — so unlike GK/KLL there is no
 * error parameter: quantiles over the quantized domain are exact
 * (type-1 / inverse-CDF: the smallest value whose cumulative count
 * reaches ⌈q·n⌉), and merging shards is plain count addition with NO
 * accuracy loss — the property approximate mergeable sketches trade
 * away. The trade is explicit instead: resolution is capped at the
 * grid, declared once by `scale`.
 *
 * Replay/merge contract (family-wide conventions): counts are additive
 * (processBatch folds; re-processing a batch double-counts — exactly-
 * once comes from the ingest checkpoint, ST2), merge fail-fasts on a
 * scale mismatch (StreamingBloom's p/k rule — two grids cannot be
 * reconciled after quantization), persist/restore round-trips through
 * a cache table with the scale stored IN the table so a restore cannot
 * silently re-grid.
 */
final class StreamingQuantiles(keyCol: String, valueCol: String, val scale: Int = 100) {

  @volatile private var state: Option[DataFrame] = None

  /** Current (k, v, c) count table (v is the quantized grid point). */
  def counts: Option[DataFrame] = state

  /** Total observations folded in so far. */
  def n: Long = state.map(
    _.agg(coalesce(sum(col("c")), lit(0L))).collect()(0).getLong(0)).getOrElse(0L)

  /** Fold one micro-batch into the count state. */
  def processBatch(batch: DataFrame): Unit = {
    val pts = batch
      .select(col(keyCol).cast(StringType).as("k"),
        round(col(valueCol).cast(DoubleType) * scale).cast(LongType).as("v"))
      .groupBy(col("k"), col("v")).agg(count(lit(1)).as("c"))
    val merged = state match {
      case Some(s) => s.unionByName(pts)
        .groupBy(col("k"), col("v")).agg(sum(col("c")).as("c"))
      case None => pts
    }
    // checkpoint: the state is read by every later batch and query,
    // and must not re-execute the whole fold lineage per reader
    state = Some(merged.localCheckpoint())
  }

  /**
   * Exact type-1 quantiles per key: for each q, the smallest grid
   * value whose cumulative count reaches max(1, ⌈q·n_k⌉), reported in
   * original units (v / scale). The rank window is per-key over the
   * VALUE DOMAIN (the state's own bound), never over raw observations.
   */
  def quantiles(qs: Seq[Double]): DataFrame = {
    val spark = state.map(_.sparkSession).getOrElse(
      org.apache.spark.sql.SparkSession.active)
    state match {
      case None =>
        spark.range(0).select(lit("").as("k"), lit(0.0).as("q"),
          lit(0.0).as("value"), lit(0L).as("n")).limit(0)
      case Some(s) =>
        val cum = s
          .withColumn("cum", sum(col("c")).over(
            Window.partitionBy(col("k")).orderBy(col("v"))))
          .withColumn("n", sum(col("c")).over(Window.partitionBy(col("k"))))
        cum
          .select(col("k"), col("v"), col("c"), col("cum"), col("n"),
            explode(lit(qs.distinct.sorted.toArray)).as("q"))
          .withColumn("target",
            greatest(lit(1L), ceil(col("q") * col("n")).cast(LongType)))
          .filter(col("cum") >= col("target") &&
            col("cum") - col("c") < col("target"))
          .select(col("k"), col("q"),
            (col("v").cast(DoubleType) / scale).as("value"), col("n"))
          .orderBy(col("k"), col("q"))
    }
  }

  /** Merge another shard's counts (exact — no accuracy loss). */
  def merge(other: StreamingQuantiles): Unit = {
    require(other.scale == scale,
      s"quantile grid mismatch: scale $scale vs ${other.scale}")
    (state, other.state) match {
      case (Some(a), Some(b)) =>
        state = Some(a.unionByName(b)
          .groupBy(col("k"), col("v")).agg(sum(col("c")).as("c"))
          .localCheckpoint())
      case (None, b @ Some(_)) => state = b
      case _ => ()
    }
  }

  /** foreachBatch harness: fold each micro-batch, then hand the
    * monitor to the sink for querying. */
  def start(stream: DataFrame,
      sink: StreamingQuantiles => Unit): org.apache.spark.sql.streaming.StreamingQuery =
    stream.writeStream
      .foreachBatch { (batch: DataFrame, _: Long) =>
        processBatch(batch)
        sink(this)
      }
      .start()

  /** Persist the count state (cache-table convention; the scale rides
    * in the table so restore cannot silently re-grid). */
  def saveTo(cache: graft.cache.SparkCache, name: String): Unit = {
    val spark = cache.spark
    val t = s"`${cache.database}`.`$name`"
    CacheTables.save(state.getOrElse {
      spark.range(0).select(lit("").as("k"), lit(0L).as("v"), lit(0L).as("c"))
        .limit(0)
    }.withColumn("sc", lit(scale))
      .write.mode("overwrite"), t)
  }
}

object StreamingQuantiles {

  /** Restore a persisted count state; fresh monitor when the table is
    * absent or empty. The grid scale comes back from the stored rows
    * themselves — a restore can never re-quantize against a different
    * grid than the one the counts were folded on. */
  def restore(cache: graft.cache.SparkCache, name: String,
      keyCol: String, valueCol: String, defaultScale: Int = 100): StreamingQuantiles = {
    val table = s"`${cache.database}`.`$name`"
    if (cache.spark.catalog.tableExists(table)) {
      val stored = cache.spark.table(table)
        .select(col("k"), col("v").cast(LongType).as("v"),
          col("c").cast(LongType).as("c"), col("sc").cast(IntegerType).as("sc"))
        .localCheckpoint()
      if (stored.count() > 0) {
        val storedScale = stored.agg(max(col("sc"))).collect()(0).getInt(0)
        val m = new StreamingQuantiles(keyCol, valueCol, storedScale)
        m.state = Some(stored.select(col("k"), col("v"), col("c")))
        return m
      }
    }
    new StreamingQuantiles(keyCol, valueCol, defaultScale)
  }
}
