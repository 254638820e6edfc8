package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

import graft.cache.CacheTables
import graft.functions.Mix64Expression

/**
 * Streaming Bloom membership: a 2^p-bit OR-bitmap maintained across
 * micro-batches — the seen-set / benchmark-blocklist structure behind
 * cross-batch decontamination (the streaming sibling of q73's static
 * bloom gate): every arriving document fingerprint is folded in, and
 * later batches ask "was this key EVER seen?" without storing keys.
 *
 * Per batch the corpus maps each key to its k bit positions inside the
 * scan (k independently seeded codegen'd [[Mix64Expression]] draws,
 * pos_i = mix64(key ^ seed_i) & (m−1)), each partition folds its
 * positions into a LOCAL word array, and the partition bitmaps
 * tree-reduce by OR — the driver receives ready-made m-bit blobs
 * (m/8 bytes each), never position rows (a distinct+collect would
 * ship up to min(k·n, 2^p) ≈ 67M rows at p=26). Because OR is
 * idempotent, commutative, and associative, the bitmap after any
 * batch sequence equals the one-shot bitmap over their union —
 * at-least-once replays cannot corrupt membership, and sharded
 * bitmaps merge by the same OR.
 *
 * Resume persists/restores the non-zero words through a cache table
 * (the [[StreamingDistinct]] convention), failing fast on a p
 * mismatch. No false negatives ever; the false-positive rate is the
 * standard (1 − e^{−kn/m})^k, reported by [[StreamingBloom#fppMicro]]
 * for monitoring.
 */
final class StreamingBloom(val p: Int, val k: Int) {
  require(p >= 6 && p <= 26, s"p must be in [6,26], got $p")
  require(k >= 1 && k <= 16, s"k must be in [1,16], got $k")

  private val m = 1L << p
  private val words = new Array[Long]((m >>> 6).toInt)
  private var inserted = 0L

  /** Bits set so far (popcount over the bitmap). */
  def cardinality: Long = words.map(java.lang.Long.bitCount(_).toLong).sum

  /** Keys folded in so far (counts replays; monitoring only). */
  def insertedKeys: Long = inserted

  // the i-th hash's seed; plain Long wraparound is the point (the
  // Spark path replays the same arithmetic inside Mix64's codegen)
  private def seed(i: Int): Long = i.toLong * 0x9E3779B97F4A7C15L

  private def positions(key: Long): Array[Int] = Array.tabulate(k) { i =>
    (graft.functions.HllAggregate.mix64(key ^ seed(i)) & (m - 1)).toInt
  }

  /** Fold one micro-batch (one LONG column `key`) into the bitmap.
    * The k per-key positions are computed in the scan (codegen'd);
    * each partition ORs them into a local word array and the arrays
    * tree-reduce — the only data that ever leaves an executor is the
    * m-bit bitmap itself, never per-key position rows. */
  def processBatch(batch: DataFrame): Unit = {
    val keys = batch.select(col("key").cast(LongType).as("key"))
      .filter(col("key").isNotNull)
    val n = keys.count()
    inserted += n
    if (n == 0) return
    val wlen = words.length
    val folded = keys
      .select(explode(array((0 until k).map(i =>
        Mix64Expression.mix64(col("key"), seed(i))
          .bitwiseAND(lit(m - 1))): _*)).as("pos"))
      .rdd.mapPartitions { it =>
        val w = new Array[Long](wlen)
        it.foreach { r =>
          val b = r.getLong(0)
          w((b >>> 6).toInt) |= 1L << (b & 63)
        }
        Iterator.single(w)
      }
      .treeReduce({ (a, b) =>
        var i = 0
        while (i < a.length) { a(i) |= b(i); i += 1 }
        a
      }, depth = 2)
    var i = 0
    while (i < words.length) { words(i) |= folded(i); i += 1 }
  }

  /** Membership: true = possibly seen (no false negatives). */
  def mightContain(key: Long): Boolean =
    positions(key).forall { b =>
      (words(b >>> 6) & (1L << (b & 63))) != 0
    }

  /** Defensive copy of the bitmap words — broadcast this and probe it
    * map-side with the codegen'd
    * [[graft.functions.BloomMightContain]] (same p, k, seeds). */
  def wordsSnapshot: Array[Long] = words.clone()

  /** Map-side DataFrame screen over the CURRENT bitmap: rows of
    * `batch` whose LONG `key` column is possibly-seen (`keepSeen =
    * true`, e.g. "route suspects to the exact check") or definitely
    * unseen (`keepSeen = false`, e.g. "drop everything the blocklist
    * ever saw" — exact, because a bloom has no false negatives, only
    * extra drops at the fpp rate). The probe is the codegen'd
    * [[graft.functions.BloomMightContain]] over a broadcast snapshot —
    * it inlines into the scan's whole-stage codegen, the streaming
    * twin of q73's batch screen. Snapshot semantics: keys folded in
    * AFTER this call do not affect the returned frame. */
  def filterSeen(batch: DataFrame, keepSeen: Boolean = true): DataFrame = {
    val bc = batch.sparkSession.sparkContext.broadcast(wordsSnapshot)
    val probe = graft.functions.BloomMightContain.column(
      col("key").cast(LongType), bc, p, k)
    batch.filter(if (keepSeen) probe else !probe)
  }

  /** Merge another shard's bitmap (same p, k) by OR — idempotent. */
  def merge(other: StreamingBloom): Unit = {
    require(other.p == p && other.k == k,
      s"bloom parameter mismatch: ($p,$k) vs (${other.p},${other.k})")
    var i = 0
    while (i < words.length) { words(i) |= other.words(i); i += 1 }
    inserted += other.inserted
  }

  /** Standard false-positive estimate (1 − e^{−kn/m})^k in micros,
    * from the observed bit load — monitoring only, not a contract. */
  def fppMicro: Long = {
    val load = cardinality.toDouble / m.toDouble
    math.round(math.pow(load, k.toDouble) * 1e6)
  }

  /** Persist the non-zero words for resume (StreamingDistinct
    * convention: one (index, word) row per non-zero word plus a
    * parameter row at index -1). */
  def saveTo(cache: graft.cache.SparkCache, name: String): Unit = {
    val spark = cache.spark
    import spark.implicits._
    val rows = (-1, p.toLong * 100 + k) +:
      words.zipWithIndex.collect { case (w, i) if w != 0L => (i, w) }.toSeq
    CacheTables.save(rows.toDF("j", "w").write.mode("overwrite"),
      s"`${cache.database}`.`$name`")
  }
}

object StreamingBloom {

  /** Restore a persisted bitmap; fresh instance when the table is
    * absent. Fails fast when the stored (p, k) don't match — resuming
    * a bloom with different hashing silently breaks membership. */
  def restore(cache: graft.cache.SparkCache, name: String,
      p: Int, k: Int): StreamingBloom = {
    val sb = new StreamingBloom(p, k)
    val spark = cache.spark
    val table = s"`${cache.database}`.`$name`"
    if (spark.catalog.tableExists(table)) {
      val rows = spark.table(table).collect()
      val params = rows.find(_.getInt(0) == -1)
        .getOrElse(sys.error(s"bloom state $name has no parameter row"))
        .getLong(1)
      require(params == p.toLong * 100 + k,
        s"bloom state $name was written with p=${params / 100} k=${params % 100}; " +
          s"cannot resume with p=$p k=$k")
      rows.filter(_.getInt(0) >= 0).foreach { r =>
        sb.words(r.getInt(0)) = r.getLong(1)
      }
      sb.inserted = -1L // unknown after restore; bitmap is the contract
    }
    sb
  }
}
