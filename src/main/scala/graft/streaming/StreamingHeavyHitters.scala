package graft.streaming

import org.apache.spark.sql.{DataFrame, Encoders}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

import graft.cache.CacheTables
import graft.operators.HeavyHitters

/**
 * Streaming heavy hitters: a bounded Misra–Gries summary maintained
 * across micro-batches (the `foreachBatch` accumulation shape of
 * [[StreamingDedup]] / [[StreamingDrift]]).
 *
 * Per batch: (1) a map-only per-partition MG pre-screen surfaces batch
 * candidates (at most k per partition — the q123 pattern, so the
 * vocabulary tail never reaches a shuffle); (2) ONE candidate-only
 * exact tally crosses the exchange; (3) the batch counts merge into
 * the running summary, which is then pruned back to k counters by the
 * mergeable-summaries decrement (subtract the (k+1)-largest count from
 * every counter, drop non-positives — Agarwal et al. 2012): the
 * summary stays O(k) regardless of stream length.
 *
 * Guarantee (the MG bound, preserved under merge): every token with
 * true frequency > N/(k+1) is present, and each reported count
 * undercounts truth by at most N/(k+1), N = tokens seen so far. A
 * resume persists/restores the summary + N through a cache table.
 *
 * 100 TB shape: batch work is per-partition kernels + one
 * candidate-sized exchange; driver state is k counters. For sharded
 * driver-free operation the same merge runs per key-range shard — the
 * decrement is associative over shards.
 */
final class StreamingHeavyHitters(val k: Int) {
  require(k >= 1, "k must be >= 1")

  @volatile private var summary: Map[String, Long] = Map.empty
  @volatile private var totalN: Long = 0L

  /** Current summary (token → estimated count, undercount ≤ N/(k+1)). */
  def snapshot: Map[String, Long] = summary

  /** Tokens seen so far. */
  def n: Long = totalN

  /** Fold one micro-batch (one string column `token`) into the summary. */
  def processBatch(batch: DataFrame): Unit = {
    val toks = batch.select(col("token")).as[String](Encoders.STRING)
    // map-only pre-screen: per-partition MG candidates, tiny collect.
    // (k copied to a local so the closure doesn't drag `this` — the
    // summary state — into task serialization)
    val kLocal = k
    val candidates = toks
      .mapPartitions(it => HeavyHitters.misraGries(it, kLocal))(Encoders.STRING)
      .distinct().collect().toSeq
    val batchN = batch.count()
    if (batchN == 0) return
    // candidate-only exact tally: the one exchange, ≤ k rows/mapper
    val counts = toks.where(col("token").isInCollection(candidates))
      .groupBy(col("token")).agg(count(lit(1)).as("c"))
      .as[(String, Long)](Encoders.product[(String, Long)])
      .collect()
    var merged = summary
    counts.foreach { case (t, c) =>
      merged = merged.updated(t, merged.getOrElse(t, 0L) + c)
    }
    summary = pruned(merged)
    totalN += batchN
  }

  /** Prune to k by the mergeable decrement: subtract the (k+1)-largest
    * value from everyone; ≤ k survivors, error grows by ≤ that value —
    * which is itself ≤ (mass this round)/(k+1). */
  private def pruned(m: Map[String, Long]): Map[String, Long] =
    if (m.size <= k) m
    else {
      val cut = m.values.toSeq.sorted(Ordering[Long].reverse)(k)
      m.collect { case (t, c) if c - cut > 0 => t -> (c - cut) }
    }

  /** Merge another shard's summary (Agarwal et al. 2012 — MG summaries
    * are mergeable: counter-wise sum, then the same decrement prune;
    * the combined error bound stays (N₁+N₂)/(k+1)). */
  def merge(other: StreamingHeavyHitters): Unit = {
    var m = summary
    other.snapshot.foreach { case (t, c) =>
      m = m.updated(t, m.getOrElse(t, 0L) + c)
    }
    summary = pruned(m)
    totalN += other.n
  }

  /** Heavy hitters at threshold N/denom from the current summary. */
  def heavyHitters(denom: Int): Seq[(String, Long)] = {
    require(denom >= 2 && denom <= k + 1,
      s"denom must be in [2, k+1]: the summary resolves frequencies down to N/(k+1)")
    summary.toSeq
      .filter { case (_, c) => c.toDouble * denom > totalN.toDouble }
      .sortBy { case (t, c) => (-c, t) }
  }

  /** Persist the summary for resume (the StreamingDedup convention:
    * state lives in a cache table, one row per counter + one N row). */
  def saveTo(cache: graft.cache.SparkCache, name: String): Unit = {
    val spark = cache.spark
    import spark.implicits._
    val rows = summary.toSeq.map { case (t, c) => (t, c) } :+
      (StreamingHeavyHitters.NKey, totalN)
    CacheTables.save(cache.spark.createDataset(rows).toDF("token", "c")
      .write.mode("overwrite"), s"`${cache.database}`.`$name`")
  }
}

object StreamingHeavyHitters {

  private val NKey = "\u0000__n__"

  /** Restore a persisted summary; fresh instance when the table is
    * absent. */
  def restore(cache: graft.cache.SparkCache, name: String, k: Int): StreamingHeavyHitters = {
    val hh = new StreamingHeavyHitters(k)
    if (cache.spark.catalog.tableExists(s"`${cache.database}`.`$name`")) {
      val rows = cache.spark.table(s"`${cache.database}`.`$name`")
        .select(col("token"), col("c").cast(LongType))
        .collect().map(r => (r.getString(0), r.getLong(1)))
      hh.totalN = rows.collectFirst { case (NKey, n) => n }.getOrElse(0L)
      hh.summary = rows.filterNot(_._1 == NKey).toMap
    }
    hh
  }
}
