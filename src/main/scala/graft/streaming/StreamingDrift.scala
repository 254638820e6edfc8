package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.cache.CacheTables

/**
 * Streaming distribution-drift monitor — the live face of q130's PSI
 * audit: the FIRST micro-batch freezes the reference (per-key value
 * range + bin histogram); every later batch bins its values against
 * the frozen reference ranges and emits one PSI row per key.
 *
 * This is how production ingestion monitors work: the reference window
 * is fixed (last validated snapshot), the comparison is each arriving
 * batch, and an alert fires on PSI above threshold BEFORE the batch
 * joins the training mix.
 *
 * State design for scale: the reference is bins×keys rows (tiny — it
 * broadcasts into every batch join); per-batch work is one map-side
 * binning pass + a keys×bins aggregation. Nothing grows with stream
 * age. The log2 addends round to 6 dp — the batch PSI is reproducible
 * regardless of batch partitioning (q89's exact-addend contract).
 */
final class StreamingDrift(keyCol: String, valueCol: String, val bins: Int = 10) {

  @volatile private var reference: Option[DataFrame] = None

  /** Frozen reference histogram: (key, b, cr) + per-key range + total. */
  def referenceHistogram: Option[DataFrame] = reference

  /**
   * One micro-batch. The first call freezes the reference and returns
   * an empty frame; later calls return (key, n_ref, n_cur, psi) for
   * every key present in the REFERENCE (keys unseen at reference time
   * are a schema-drift signal, surfaced separately by `novelKeys`).
   */
  def processBatch(batch: DataFrame): DataFrame = {
    val spark = batch.sparkSession
    val binned = (ranges: DataFrame) => batch
      .select(col(keyCol).as("k"), col(valueCol).cast(DoubleType).as("v"))
      .join(broadcast(ranges), "k")
      .select(col("k"),
        when(col("mx") > col("mn"),
          least(greatest(floor((col("v") - col("mn")) * bins / (col("mx") - col("mn")))
            .cast(IntegerType), lit(0)), lit(bins - 1)))
          .otherwise(lit(0)).as("b")) // degenerate range: one bin
    reference match {
      case None =>
        val ranges = batch
          .select(col(keyCol).as("k"), col(valueCol).cast(DoubleType).as("v"))
          .groupBy(col("k"))
          .agg(min(col("v")).as("mn"), max(col("v")).as("mx"))
        val spine = ranges.select(col("k"))
          .crossJoin(spark.range(bins).select(col("id").cast(IntegerType).as("b")))
        val refCounts = binned(ranges)
          .groupBy(col("k"), col("b")).agg(count(lit(1)).as("cr"))
        reference = Some(spine
          .join(refCounts, Seq("k", "b"), "left_outer")
          .join(ranges, "k")
          .select(col("k"), col("b"), coalesce(col("cr"), lit(0L)).as("cr"),
            col("mn"), col("mx"))
          .localCheckpoint()) // frozen: later batches must not recompute
        batch.sparkSession.emptyDataFrame
          .select(lit("").as("k"), lit(0L).as("n_ref"), lit(0L).as("n_cur"),
            lit(0.0).as("psi")).limit(0)
      case Some(ref) =>
        val ranges = ref.select(col("k"), col("mn"), col("mx")).distinct()
        val curCounts = binned(ranges)
          .groupBy(col("k"), col("b")).agg(count(lit(1)).as("cc"))
        val smooth = bins / 2.0
        ref
          .join(curCounts, Seq("k", "b"), "left_outer")
          .select(col("k"), col("cr"), coalesce(col("cc"), lit(0L)).as("cc"))
          .withColumn("tr", sum(col("cr")).over(
            org.apache.spark.sql.expressions.Window.partitionBy(col("k"))))
          .withColumn("tc", sum(col("cc")).over(
            org.apache.spark.sql.expressions.Window.partitionBy(col("k"))))
          .select(col("k"), col("tr"), col("tc"),
            ((col("cr").cast(DoubleType) + 0.5)
              / (col("tr").cast(DoubleType) + smooth)).as("p"),
            ((col("cc").cast(DoubleType) + 0.5)
              / (col("tc").cast(DoubleType) + smooth)).as("q"))
          .select(col("k"), col("tr"), col("tc"),
            round((col("p") - col("q")) * log2(col("p") / col("q")), 6).as("addend"))
          .groupBy(col("k"))
          .agg(max(col("tr")).as("n_ref"), max(col("tc")).as("n_cur"),
            round(sum(col("addend")), 4).as("psi"))
    }
  }

  /** foreachBatch harness: first batch freezes the reference, every
    * later batch's PSI rows flow to the sink. */
  def start(stream: DataFrame,
      sink: DataFrame => Unit): org.apache.spark.sql.streaming.StreamingQuery =
    stream.writeStream
      .foreachBatch { (batch: DataFrame, _: Long) =>
        sink(processBatch(batch))
      }
      .start()

  /** Merge another shard's FROZEN reference (shards monitor disjoint
    * key ranges): key-disjoint union; for a key both shards froze,
    * THIS monitor's rows win — a reference is a frozen snapshot, and
    * re-binning two references with different per-key ranges is not
    * meaningful, so first-freeze-wins is the only consistent rule. */
  def merge(other: StreamingDrift): Unit = {
    // same fail-fast contract as StreamingBloom.merge's p/k check: a
    // shard frozen at a different --bins would silently misalign PSI
    // for its keys (current values bin with THIS monitor's resolution)
    require(other.bins == bins,
      s"drift bin-count mismatch: $bins vs ${other.bins}")
    (reference, other.reference) match {
      case (Some(a), Some(b)) =>
        val mineOnly = a.select(col("k")).distinct()
        reference = Some(a.unionByName(
            b.join(mineOnly, Seq("k"), "left_anti"))
          .localCheckpoint())
      case (None, b @ Some(_)) => reference = b
      case _ => ()
    }
  }

  /** Persist the frozen reference for resume (cache-table convention;
    * an unfrozen monitor writes an empty table). */
  def saveTo(cache: graft.cache.SparkCache, name: String): Unit = {
    val spark = cache.spark
    val t = s"`${cache.database}`.`$name`"
    CacheTables.save(reference.getOrElse {
      spark.range(0).select(lit("").as("k"), lit(0).cast(IntegerType).as("b"),
        lit(0L).as("cr"), lit(0.0).as("mn"), lit(0.0).as("mx")).limit(0)
    }.write.mode("overwrite"), t)
  }

  /** Keys in `batch` with no reference histogram (schema/category drift). */
  def novelKeys(batch: DataFrame): DataFrame = reference match {
    case Some(ref) =>
      batch.select(col(keyCol).as("k")).distinct()
        .join(ref.select(col("k")).distinct(), Seq("k"), "left_anti")
    case None => batch.select(col(keyCol).as("k")).limit(0)
  }
}

object StreamingDrift {

  /** Restore a persisted frozen reference; fresh (unfrozen) monitor
    * when the table is absent or empty. `bins` comes back from the
    * stored histogram itself (max bin index + 1), so a restore can't
    * silently re-bin against a different resolution than the freeze. */
  def restore(cache: graft.cache.SparkCache, name: String,
      keyCol: String, valueCol: String, defaultBins: Int = 10): StreamingDrift = {
    val table = s"`${cache.database}`.`$name`"
    if (cache.spark.catalog.tableExists(table)) {
      val ref = cache.spark.table(table)
        .select(col("k"), col("b").cast(IntegerType).as("b"),
          col("cr").cast(LongType).as("cr"),
          col("mn").cast(DoubleType).as("mn"),
          col("mx").cast(DoubleType).as("mx"))
        .localCheckpoint()
      if (ref.count() > 0) {
        val storedBins = ref.agg(max(col("b"))).collect()(0).getInt(0) + 1
        val d = new StreamingDrift(keyCol, valueCol, storedBins)
        d.reference = Some(ref)
        return d
      }
    }
    new StreamingDrift(keyCol, valueCol, defaultBins)
  }
}
