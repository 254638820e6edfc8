package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/**
 * Stream finalization: how a batch of new records lands in the final table.
 *
 * Reference semantics (PyAirbyte):
 *   - append:  `INSERT INTO final SELECT * FROM temp`
 *     (`airbyte/shared/sql_processor.py:1042-1059`)
 *   - replace: temp/final table swap (`:1061-1087`)
 *   - merge:   `MERGE INTO ... ON pk` native (`:1089-1127`) or emulated
 *     UPDATE+INSERT (`:1148-1208`); last write wins per PK.
 *
 * Behavioral contract (reference
 * `tests/integration_tests/test_all_cache_types.py:177-252`):
 *   append twice ⇒ 2N rows; replace twice ⇒ N; merge re-run ⇒ idempotent N.
 *
 * Spark-first design: there is no MERGE on plain parquet tables, so merge =
 * union(existing, incoming) → keep the latest version per PK
 * (`_airbyte_extracted_at`, then `_airbyte_raw_id` as the tiebreak — v7 ids
 * increase in arrival order within a task, see `Uuid7`) → overwrite. The
 * dedup is one `max_by` hash aggregate: its partial aggregate runs below
 * the PK exchange, so a hot key collapses to one row per mapper before
 * any shuffle, and the one exchange is the same shuffle a SQL MERGE's
 * join would do. For very large final tables a real deployment would use
 * a MERGE-capable table format (Delta/Iceberg); the last-wins rule is
 * identical.
 */
object WriteStrategies {

  /**
   * Dedup by PK keeping the latest version of each key.
   *
   * Implemented as `max_by(struct(*), struct(orderCols))` — a hash
   * aggregation, NOT a sort-window: partial (map-side) aggregation
   * collapses every key to one row per mapper BEFORE the shuffle, so a
   * hot PK with millions of versions shuffles ~one row per input
   * partition instead of pinning a single sorted window partition. At
   * 100 TB this is the difference between a bounded merge and a straggler.
   * Struct comparison is field-order lexicographic with nulls first, so a
   * null order value loses to any non-null one. A frame with none of
   * `orderCols` has no latest version and is rejected.
   */
  def dedupLatest(
      df: DataFrame,
      pks: Seq[String],
      orderCols: Seq[String] = Seq(Records.ExtractedAtColumn, Records.RawIdColumn)): DataFrame = {
    require(pks.nonEmpty, "merge/dedup requires primary keys")
    val present = orderCols.filter(df.columns.map(_.toLowerCase(java.util.Locale.ROOT)).contains(_))
    require(present.nonEmpty, "dedupLatest needs an order column to pick the latest " +
      s"version; none of ${orderCols.mkString(", ")} is in [${df.columns.mkString(", ")}]")
    df.groupBy(pks.map(col): _*)
      .agg(max_by(
        struct(df.columns.map(col).toSeq: _*),
        struct(present.map(col): _*)).as("__row"))
      .select(col("__row.*"))
  }

  private val SkewProbeFraction = 0.05
  private val SkewProbeMinRows = 1000L
  private val SkewShare = 0.3

  /** Sampled PK-skew probe: true when one key owns more than 30% of a
    * 5% sample of at least 1000 rows. A diagnostic only: no write path
    * calls it, because [[dedupLatest]]'s partial aggregate already
    * collapses a hot key to one row per mapper before the shuffle. */
  def probeSkew(df: DataFrame, pks: Seq[String]): Boolean = {
    require(pks.nonEmpty, "merge/dedup requires primary keys")
    val probe = df.sample(withReplacement = false, SkewProbeFraction, seed = 42L)
      .groupBy(pks.map(col): _*).agg(count(lit(1)).as("__n"))
      .agg(coalesce(max(col("__n")), lit(0L)).as("mx"),
        coalesce(sum(col("__n")), lit(0L)).as("tot"))
      .collect()(0)
    val (mx, tot) = (probe.getLong(0), probe.getLong(1))
    tot >= SkewProbeMinRows && mx.toDouble / tot.toDouble > SkewShare
  }

  /** Merge incoming into existing: last-wins per PK ([[dedupLatest]] of
    * the union), idempotent. */
  def merge(existing: Option[DataFrame], incoming: DataFrame, pks: Seq[String]): DataFrame = {
    val unioned = existing match {
      case Some(e) => e.unionByName(incoming, allowMissingColumns = true)
      case None    => incoming
    }
    dedupLatest(unioned, pks)
  }

  /**
   * CDC-aware merge: last-wins per PK like [[merge]], and a key whose
   * WINNING version is a delete marker (`deleteCol` non-null, the
   * Debezium/Airbyte `_ab_cdc_deleted_at` convention) is dropped from
   * the final table — hard-delete propagation, which plain last-wins
   * merge cannot express. Ordering comes from `orderCols` (the CDC
   * cursor: LSN / commit timestamp), NOT arrival time, so out-of-order
   * redelivery within a batch cannot resurrect a deleted row. Same
   * hash-agg shape as [[dedupLatest]] (partial map-side collapse,
   * skew-immune), plus one codegen'd filter — idempotent under replay.
   *
   * `keepTombstones = true` RETAINS the winning delete rows (readers
   * filter `deleteCol IS NULL`): required when later batches can
   * redeliver pre-delete versions out of order — with the tombstone
   * gone, a stale redelivered row would win its key back. Our sync loop
   * checkpoints the cursor after finalize (ST2), so in-order batch
   * feeds can safely drop tombstones (the default).
   */
  def mergeCdc(
      existing: Option[DataFrame], incoming: DataFrame, pks: Seq[String],
      deleteCol: String,
      orderCols: Seq[String] = Seq(Records.ExtractedAtColumn, Records.RawIdColumn),
      keepTombstones: Boolean = false): DataFrame = {
    // a batch with no deletes often arrives without the marker column
    // at all — treat it as all-null rather than failing analysis
    def ensureMarker(df: DataFrame): DataFrame =
      if (df.columns.exists(_.equalsIgnoreCase(deleteCol))) df
      else df.withColumn(deleteCol, lit(null).cast("timestamp"))
    val unioned = existing match {
      case Some(e) => ensureMarker(e).unionByName(ensureMarker(incoming),
        allowMissingColumns = true)
      case None    => ensureMarker(incoming)
    }
    val merged = dedupLatest(unioned, pks, orderCols)
    if (keepTombstones) merged else merged.filter(col(deleteCol).isNull)
  }
}
