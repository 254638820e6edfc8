package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

import graft.cache.CacheTables
import graft.functions.HllAggregate

/**
 * Streaming distinct-count: a 2^p-byte HLL register summary maintained
 * across micro-batches (the `foreachBatch` accumulation shape of
 * [[StreamingHeavyHitters]] / [[StreamingDedup]]).
 *
 * Per batch the corpus folds into per-partition register buffers inside
 * ONE [[HllAggregate]] hash-agg (no corpus shuffle — only partial
 * buffers reach the driver), and the batch registers merge into the
 * running summary by elementwise max. Because max is idempotent,
 * commutative, and associative, the summary after any sequence of
 * batches equals the one-shot registers over their union — re-delivered
 * records (at-least-once sources) cannot inflate the count, which is
 * the property that makes HLL the right streaming distinct structure
 * (a naive counter double-counts replays).
 *
 * Estimate: the q196 contract — raw HLL with the harmonic numerator in
 * exact BigInt, alpha frozen at 10 dp. Resume persists/restores the
 * registers through a cache table (one row per register).
 *
 * 100 TB shape: state is 2^p bytes however long the stream runs; for
 * sharded operation per-shard registers merge by the same max.
 */
final class StreamingDistinct(val p: Int) {
  require(p >= 4 && p <= 16, s"p must be in [4,16], got $p")

  private val m = 1 << p
  @volatile private var regs: Array[Byte] = new Array[Byte](m)

  /** Current registers (defensive copy). */
  def registers: Array[Byte] = regs.clone()

  /** Fold one micro-batch (one LONG column `key`) into the summary. */
  def processBatch(batch: DataFrame): Unit = {
    val batchRegs = batch
      .select(col("key").cast(LongType).as("key"))
      .filter(col("key").isNotNull)
      .agg(HllAggregate.hllRegisters(col("key"), p).as("regs"))
      .collect()(0).getSeq[Byte](0).toArray
    val merged = regs.clone()
    var i = 0
    while (i < m) {
      if (batchRegs(i) > merged(i)) merged(i) = batchRegs(i)
      i += 1
    }
    regs = merged
  }

  /** Raw HLL estimate (q196's frozen-constant contract; small-range
    * linear-counting correction left to the caller, who has
    * `zeroRegisters`). */
  def estimate: Long = {
    // numerator = Σ 2^(64-p+1-reg) exact; alpha_m = 0.7213/(1+1.079/m)
    val shift = 64 - p + 1
    var num = BigInt(0)
    regs.foreach { r => num += BigInt(1) << (shift - r) }
    val alpha = 0.7213 / (1.0 + 1.079 / m)
    val scale = java.lang.Math.scalb(1.0, shift) // 2^(64-p+1), exact
    math.floor(alpha * m * m * scale / num.toDouble).toLong
  }

  /** Registers that never saw a key — feeds linear counting. */
  def zeroRegisters: Int = regs.count(_ == 0)

  /** Merge another summary (same p) by per-register max — the HLL
    * union, exact under any interleaving/replay (idempotent,
    * commutative, associative like processBatch's fold). */
  def merge(other: StreamingDistinct): Unit = {
    require(other.p == p,
      s"cannot merge HLL summaries with different precisions ($p vs ${other.p})")
    val theirs = other.registers
    val merged = regs.clone()
    var i = 0
    while (i < m) {
      if (theirs(i) > merged(i)) merged(i) = theirs(i)
      i += 1
    }
    regs = merged
  }

  /** Persist registers for resume (the StreamingDedup convention: state
    * lives in a cache table, one (index, value) row per register). */
  def saveTo(cache: graft.cache.SparkCache, name: String): Unit = {
    val spark = cache.spark
    import spark.implicits._
    CacheTables.save(regs.zipWithIndex.map { case (r, i) => (i, r.toInt) }.toSeq
      .toDF("j", "r")
      .write.mode("overwrite"), s"`${cache.database}`.`$name`")
  }
}

object StreamingDistinct {

  /** Restore a persisted summary; fresh instance when the table is
    * absent. Fails fast when the stored register count does not match
    * 2^p (the StreamingDedup parameter-mismatch convention). */
  def restore(cache: graft.cache.SparkCache, name: String, p: Int): StreamingDistinct = {
    val sd = new StreamingDistinct(p)
    if (cache.spark.catalog.tableExists(s"`${cache.database}`.`$name`")) {
      val rows = cache.spark.table(s"`${cache.database}`.`$name`")
        .select(col("j"), col("r"))
        .collect().map(r => (r.getInt(0), r.getInt(1)))
      require(rows.length == (1 << p),
        s"stored summary has ${rows.length} registers, expected ${1 << p} " +
          "— resuming with a different p would silently corrupt estimates")
      val restored = new Array[Byte](1 << p)
      rows.foreach { case (j, r) => restored(j) = r.toByte }
      sd.regs = restored
    }
    sd
  }
}
