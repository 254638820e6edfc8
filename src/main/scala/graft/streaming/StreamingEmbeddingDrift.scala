package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.cache.CacheTables
import graft.functions.LongGramAggregate
import graft.operators.IntEigen

/**
 * Streaming embedding-space drift monitor — the vector-space face of
 * StreamingDrift's PSI: has the EMBEDDING DISTRIBUTION moved since the
 * last validated snapshot (new encoder version, corrupted batch, a
 * modality leaking into the wrong stream)? The scalar-histogram PSI
 * can't see a rotation of the embedding cloud; the dominant direction
 * of variance can.
 *
 * Mechanics: every micro-batch folds through ONE LongGramAggregate
 * pass (the corpus never shuffles — per-partition fixed-size long
 * buffers; ~2k longs reach the driver), accumulated into an exact
 * BigInt Gram. The FIRST batch freezes the reference. Drift is
 * reported as the cosine between the reference's and the cumulative
 * Gram's dominant eigenvectors (IntEigen — exact integer matrix
 * squaring, so a resumed or merged monitor reproduces loadings
 * bit-identically) plus the anisotropy (variance-explained) shift.
 *
 * Family conventions: additive folds (exactly-once comes from the
 * ingest checkpoint), merge fail-fasts on a dimension mismatch,
 * first-freeze-wins for the reference (a frozen snapshot, same rule
 * as StreamingDrift), persist/restore through a cache table with the
 * dimension recoverable from the stored buffer length.
 */
final class StreamingEmbeddingDrift(vecCol: String, val d: Int = 64) {

  private val bufLen = d * (d + 1) / 2 + d + 1

  @volatile private var reference: Option[Array[BigInt]] = None
  @volatile private var cumulative: Option[Array[BigInt]] = None

  private def milli = transform(col(vecCol),
    e => round(e.cast(DoubleType) * lit(1000.0), 0).cast(LongType))

  def isFrozen: Boolean = reference.isDefined

  /** Rows folded into the cumulative Gram so far. */
  def n: Long = cumulative.map(_(bufLen - 1).toLong).getOrElse(0L)

  /** Rows in the frozen reference. */
  def referenceN: Long = reference.map(_(bufLen - 1).toLong).getOrElse(0L)

  /** Fold one micro-batch; the first NON-EMPTY batch freezes the
    * reference. An empty first batch (n = 0, all-zero Gram) must NOT
    * freeze: a zero reference makes topComponent return the zero
    * vector, so every later report() would read cosine 0.0 —
    * indistinguishable from maximal drift — and first-freeze-wins
    * would make that permanent. The monitor stays unfrozen until real
    * rows arrive. */
  def processBatch(batch: DataFrame): Unit = {
    val g = batch.agg(LongGramAggregate.gram(milli, d).as("g"))
      .head().getSeq[Long](0).map(BigInt(_)).toArray
    cumulative = Some(cumulative match {
      case Some(c) => c.zip(g).map { case (a, b) => a + b }
      case None => g
    })
    if (reference.isEmpty && g(bufLen - 1) != 0) reference = Some(g.clone())
  }

  /**
   * Drift report: cosine between the reference and cumulative top
   * components (1.0 = same dominant direction), their
   * variance-explained shares, and the counts. Empty before any fold.
   */
  def report(): Option[StreamingEmbeddingDrift.Report] =
    for (ref <- reference; cum <- cumulative) yield {
      val mr = IntEigen.covScaled(ref.toIndexedSeq, d)
      val mc = IntEigen.covScaled(cum.toIndexedSeq, d)
      val vr = IntEigen.topComponent(mr)
      val vc = IntEigen.topComponent(mc)
      StreamingEmbeddingDrift.Report(
        cosine = IntEigen.cosine(vr, vc),
        refVarExplainedMicro = IntEigen.varExplainedMicro(mr, vr).toLong,
        curVarExplainedMicro = IntEigen.varExplainedMicro(mc, vc).toLong,
        nRef = referenceN, nCur = n)
    }

  /** Merge another shard's cumulative Gram (exact addition); the
    * reference follows first-freeze-wins (this monitor's wins). */
  def merge(other: StreamingEmbeddingDrift): Unit = {
    require(other.d == d, s"embedding dimension mismatch: $d vs ${other.d}")
    (cumulative, other.cumulative) match {
      case (Some(a), Some(b)) =>
        cumulative = Some(a.zip(b).map { case (x, y) => x + y })
      case (None, b @ Some(_)) => cumulative = b.map(_.clone())
      case _ => ()
    }
    if (reference.isEmpty) reference = other.reference.map(_.clone())
  }

  /** Test-only state injection (spec pins the >BIGINT persist path,
    * which real folds only reach after ~10⁹ batches). */
  private[graft] def setStateForTest(
      ref: Option[Array[BigInt]], cum: Option[Array[BigInt]]): Unit = {
    reference = ref
    cumulative = cum
  }

  private[graft] def stateForTest: (Option[Seq[BigInt]], Option[Seq[BigInt]]) =
    (reference.map(_.toSeq), cumulative.map(_.toSeq))

  /** foreachBatch harness. */
  def start(stream: DataFrame,
      sink: StreamingEmbeddingDrift => Unit): org.apache.spark.sql.streaming.StreamingQuery =
    stream.writeStream
      .foreachBatch { (batch: DataFrame, _: Long) =>
        processBatch(batch)
        sink(this)
      }
      .start()

  /** Persist both Gram buffers (values as DECIMAL(38,0) — cumulative
    * sums outgrow BIGINT on long streams; they ride as STRINGS into
    * the cast because the default BigDecimal encoder is (38,18) and
    * would overflow to null past ~10²⁰ BEFORE any explicit cast). */
  def saveTo(cache: graft.cache.SparkCache, name: String): Unit = {
    val spark = cache.spark
    import spark.implicits._
    val t = s"`${cache.database}`.`$name`"
    val rows =
      reference.toSeq.flatMap(b => b.zipWithIndex.map { case (v, i) =>
        ("ref", i, v.toString) }) ++
      cumulative.toSeq.flatMap(b => b.zipWithIndex.map { case (v, i) =>
        ("cum", i, v.toString) })
    CacheTables.save(rows.toDF("slot", "idx", "val")
      .select(col("slot"), col("idx"),
        col("val").cast(DecimalType(38, 0)).as("val"))
      .write.mode("overwrite"), t)
  }
}

object StreamingEmbeddingDrift {

  final case class Report(
      cosine: Double,
      refVarExplainedMicro: Long,
      curVarExplainedMicro: Long,
      nRef: Long,
      nCur: Long)

  /** Restore a persisted monitor; fresh when the table is absent or
    * empty. The dimension comes back from the stored buffer length
    * (len = d(d+1)/2 + d + 1), so a restore cannot silently re-shape. */
  def restore(cache: graft.cache.SparkCache, name: String,
      vecCol: String, defaultD: Int = 64): StreamingEmbeddingDrift = {
    val table = s"`${cache.database}`.`$name`"
    if (cache.spark.catalog.tableExists(table)) {
      val rows = cache.spark.table(table)
        .select(col("slot"), col("idx").cast(IntegerType),
          col("val").cast(DecimalType(38, 0)))
        .collect()
      if (rows.nonEmpty) {
        val bySlot = rows.groupBy(_.getString(0)).map { case (slot, rs) =>
          slot -> rs.sortBy(_.getInt(1))
            .map(r => BigInt(r.getDecimal(2).toBigInteger))
        }
        val len = bySlot.values.head.length
        // len = d(d+1)/2 + d + 1 → d = (-3 + sqrt(9 + 8(len-1))) / 2
        val d = ((math.sqrt(9.0 + 8.0 * (len - 1)) - 3.0) / 2.0).round.toInt
        val m = new StreamingEmbeddingDrift(vecCol, d)
        bySlot.get("ref").foreach(b => m.reference = Some(b.toArray))
        bySlot.get("cum").foreach(b => m.cumulative = Some(b.toArray))
        return m
      }
    }
    new StreamingEmbeddingDrift(vecCol, defaultD)
  }
}
