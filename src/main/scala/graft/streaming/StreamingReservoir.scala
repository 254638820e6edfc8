package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

import graft.cache.CacheTables
import graft.functions.Mix64Expression

/**
 * Streaming bottom-k sample: the k distinct keys with the smallest
 * hash priorities, maintained across micro-batches — the mergeable
 * uniform-sample structure (Cohen & Kaplan 2007's bottom-k sketch)
 * behind "hold a stable 1k-document sample of everything ever
 * ingested" dashboards and cross-shard sample unions. Priority =
 * splitmix64(key), so a key's priority never changes: re-delivered
 * records land on the same priority and set-union semantics make the
 * fold idempotent under at-least-once replay; two shards' sketches
 * merge by union + re-truncate. The same kth-smallest priority yields
 * an unbiased distinct-count estimate (k−1)·2⁶⁴/u_(k).
 *
 * Per batch the corpus maps to priorities inside the scan (codegen'd
 * [[Mix64Expression]]) and `orderBy(p).limit(k)` plans as
 * TakeOrderedAndProject — per-partition bounded heaps, no global
 * sort; only k rows reach the driver.
 *
 * 100 TB shape: state is k (priority, key) pairs however long the
 * stream runs; resume persists/restores through a cache table with a
 * k guard (the [[StreamingDistinct]] convention).
 */
final class StreamingReservoir(val k: Int) {
  require(k >= 1 && k <= (1 << 20), s"k must be in [1, 2^20], got $k")

  // priorities stored MSB-flipped so SIGNED ascending order equals
  // UNSIGNED ascending order of the raw hash (same trick in the query)
  private val state = new java.util.TreeMap[Long, Long]() // flipped p -> key

  /** Current sample: (priority, key) pairs, ascending priority. */
  def sample: Seq[(Long, Long)] = {
    val b = Seq.newBuilder[(Long, Long)]
    state.forEach((p, key) => b += ((p, key)))
    b.result()
  }

  def size: Int = state.size()

  /** Fold one micro-batch (one LONG column `key`) into the sketch. */
  def processBatch(batch: DataFrame): Unit = {
    val rows = batch.select(col("key").cast(LongType).as("key"))
      .filter(col("key").isNotNull)
      .select(Mix64Expression.mix64(col("key"), 0L)
        .bitwiseXOR(lit(Long.MinValue)).as("p"), col("key"))
      .orderBy(col("p")).limit(k) // TakeOrderedAndProject: bounded heaps
      .collect()
    rows.foreach(r => state.put(r.getLong(0), r.getLong(1)))
    truncate()
  }

  /** Merge another shard's sketch (same k) — union + re-truncate. */
  def merge(other: StreamingReservoir): Unit = {
    require(other.k == k, s"reservoir parameter mismatch: k=$k vs k=${other.k}")
    other.state.forEach((p, key) => state.put(p, key))
    truncate()
  }

  private def truncate(): Unit =
    while (state.size() > k) state.pollLastEntry()

  /** Bottom-k distinct estimate (k−1)·2⁶⁴/u_(k); exact count when the
    * sketch is not yet full (every distinct key is present). */
  def distinctEstimate: Long =
    if (state.size() < k) state.size().toLong
    else {
      // stored = unsigned − 2^63 as a signed long, so unsigned = stored + 2^63
      val u = BigInt(state.lastKey()) + (BigInt(1) << 63)
      ((BigInt(k - 1) << 64) / u).toLong
    }

  /** Persist the sample for resume: one tag=1 row per (priority, key)
    * pair plus a tag=0 parameter row carrying k — an explicit tag, not
    * a sentinel priority, because every Long is a legal priority. */
  def saveTo(cache: graft.cache.SparkCache, name: String): Unit = {
    val spark = cache.spark
    import spark.implicits._
    val rows = (0, 0L, k.toLong) +: sample.map { case (p, key) => (1, p, key) }
    CacheTables.save(rows.toDF("tag", "p", "key").write.mode("overwrite"),
      s"`${cache.database}`.`$name`")
  }
}

object StreamingReservoir {

  /** Restore a persisted sketch; fresh instance when the table is
    * absent. Fails fast on a k mismatch — a truncated sketch cannot
    * be re-widened without bias. */
  def restore(cache: graft.cache.SparkCache, name: String, k: Int): StreamingReservoir = {
    val sr = new StreamingReservoir(k)
    val spark = cache.spark
    val table = s"`${cache.database}`.`$name`"
    if (spark.catalog.tableExists(table)) {
      val rows = spark.table(table).collect()
      val stored = rows.find(_.getInt(0) == 0)
        .getOrElse(sys.error(s"reservoir state $name has no parameter row"))
        .getLong(2)
      require(stored == k.toLong,
        s"reservoir state $name was written with k=$stored; cannot resume with k=$k")
      rows.filter(_.getInt(0) == 1).foreach { r =>
        sr.state.put(r.getLong(1), r.getLong(2))
      }
    }
    sr
  }
}
