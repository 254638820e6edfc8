package graft.cache

import org.apache.spark.sql.{DataFrame, SaveMode}
import org.apache.spark.sql.functions._

/**
 * Sorted, range-partitioned table writes — the data-SKIPPING layout for
 * 100 TB scans: `repartitionByRange` gives each output file a disjoint
 * key range, `sortWithinPartitions` orders rows inside each file, so
 * parquet row-group min/max statistics prune everything outside a
 * range predicate (the poor engine's Z-order; for one sort dimension it
 * IS optimal). Spark's own ORDER BY uses the same sampled range
 * partitioner — this applies it to the PERSISTED layout.
 */
object SortedWrite {

  /**
   * Write `df` as a table sorted by `sortCols`: `numFiles` output files
   * with disjoint sorted ranges.
   */
  def writeSorted(
      df: DataFrame, tableName: String,
      sortCols: Seq[String], numFiles: Int): Unit =
    CacheTables.save(df.repartitionByRange(numFiles, sortCols.map(col): _*)
      .sortWithinPartitions(sortCols.map(col): _*)
      .write.mode(SaveMode.Overwrite), tableName)

  /**
   * Morton (Z-order) key: bit-interleave two non-negative integer
   * columns, `bits` bits each — bit i of x lands at position 2i, bit i
   * of y at 2i+1. Built from plain shift/and/or columns, so the whole
   * key stays inside whole-stage codegen (no UDF, no custom Expression).
   */
  def mortonKey(x: org.apache.spark.sql.Column, y: org.apache.spark.sql.Column,
      bits: Int = 16): org.apache.spark.sql.Column = {
    require(bits > 0 && bits <= 31, "bits must be in [1,31]")
    val xs = x.cast("long")
    val ys = y.cast("long")
    (0 until bits).map { i =>
      val xb = shiftleft(shiftrightunsigned(xs, i).bitwiseAND(1L), 2 * i)
      val yb = shiftleft(shiftrightunsigned(ys, i).bitwiseAND(1L), 2 * i + 1)
      xb.bitwiseOR(yb)
    }.reduce(_ bitwiseOR _)
  }

  /**
   * Z-ordered layout for TWO-dimensional data skipping: range-partition
   * + sort by the interleaved Morton key, so each parquet file covers a
   * compact rectangle in (x, y) space and row-group min/max statistics
   * on BOTH source columns stay tight — a selective predicate on either
   * dimension (or both) prunes most files, where a single-column sort
   * only skips on its one leading dimension. This is the standard
   * multi-dimensional clustering trick (Delta/Iceberg `ZORDER BY`),
   * built from stock Spark: the key is plain bitwise columns and the
   * writer is the same range partitioner as [[writeSorted]].
   */
  def writeZOrdered(
      df: DataFrame, tableName: String,
      xCol: String, yCol: String, numFiles: Int, bits: Int = 16): Unit = {
    // Min-max scale each dimension into the bit budget first: raw
    // interleave of values beyond 2^bits silently drops high bits
    // (arbitrary 64-bit ids would alias and lose all locality). One
    // tiny 4-number aggregate; scaling is approximate by design — the
    // key only drives LAYOUT, results are unaffected.
    val r = df.agg(
      min(col(xCol)).cast("double"), max(col(xCol)).cast("double"),
      min(col(yCol)).cast("double"), max(col(yCol)).cast("double")).head()
    val hi = (1L << bits) - 1
    def scaled(c: org.apache.spark.sql.Column, lo: Double, span: Double) =
      ((c.cast("double") - lit(lo)) / lit(math.max(span, 1.0)) * lit(hi.toDouble))
        .cast("long")
    val sx = scaled(col(xCol), r.getDouble(0), r.getDouble(1) - r.getDouble(0))
    val sy = scaled(col(yCol), r.getDouble(2), r.getDouble(3) - r.getDouble(2))
    CacheTables.save(df.withColumn("__z", mortonKey(sx, sy, bits))
      .repartitionByRange(numFiles, col("__z"))
      .sortWithinPartitions(col("__z"))
      .drop("__z")
      .write.mode(SaveMode.Overwrite), tableName)
  }
}
