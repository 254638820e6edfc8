package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
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
 * union(existing, incoming) → window dedup by PK keeping the latest
 * (`_airbyte_extracted_at` desc, `_airbyte_raw_id` desc tiebreak — v7 ids
 * increase in arrival order within a task, see `Uuid7`) → overwrite. At
 * scale the window is one hash shuffle by PK — the same shuffle a SQL
 * MERGE's join would do — and AQE handles skew.
 * For very large final tables a real deployment would use a MERGE-capable
 * table format (Delta/Iceberg); the dedup-window algorithm is identical.
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
   * Struct comparison is field-order lexicographic with nulls-first, so
   * `max_by` matches the old window's `desc_nulls_last` ordering.
   */
  def dedupLatest(
      df: DataFrame,
      pks: Seq[String],
      orderCols: Seq[String] = Seq(Records.ExtractedAtColumn, Records.RawIdColumn)): DataFrame = {
    require(pks.nonEmpty, "merge/dedup requires primary keys")
    val present = orderCols.filter(df.columns.map(_.toLowerCase(java.util.Locale.ROOT)).contains(_))
    if (present.isEmpty) return dedupLatestWindow(df, pks, orderCols)
    df.groupBy(pks.map(col): _*)
      .agg(max_by(
        struct(df.columns.map(col).toSeq: _*),
        struct(present.map(col): _*)).as("__row"))
      .select(col("__row.*"))
  }

  /** Sort-window formulation of [[dedupLatest]] (kept for parity tests
    * and for callers that need explicit null-ordering control). */
  def dedupLatestWindow(
      df: DataFrame,
      pks: Seq[String],
      orderCols: Seq[String] = Seq(Records.ExtractedAtColumn, Records.RawIdColumn)): DataFrame = {
    require(pks.nonEmpty, "merge/dedup requires primary keys")
    val present = orderCols.filter(df.columns.map(_.toLowerCase(java.util.Locale.ROOT)).contains(_))
    val w = Window.partitionBy(pks.map(col): _*)
      .orderBy(present.map(c => col(c).desc_nulls_last): _*)
    df.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .drop("__rn")
  }

  /**
   * Skew-safe dedup: a hot PK with millions of versions would pin one
   * window partition (the classic merge hotspot at scale). Two phases:
   * a salted window keeps the latest per (pk, salt) — bounding any
   * partition to rows/salt — then the plain window picks the latest of
   * the ≤`salt` survivors per pk. Latest-of-latests ≡ latest, so the
   * result is identical to `dedupLatest`; cost is one extra (cheap,
   * post-pruned) shuffle, only worth paying for skewed inputs.
   */
  def dedupLatestSalted(
      df: DataFrame, pks: Seq[String], salt: Int = 16,
      orderCols: Seq[String] = Seq(Records.ExtractedAtColumn, Records.RawIdColumn)): DataFrame = {
    require(pks.nonEmpty, "merge/dedup requires primary keys")
    val present = orderCols.filter(df.columns.map(_.toLowerCase(java.util.Locale.ROOT)).contains(_))
    require(present.nonEmpty, "salted dedup requires at least one order column")
    // The salt MUST be a deterministic function of row values, projected
    // into a real column BEFORE the window: a nondeterministic expression
    // (e.g. monotonically_increasing_id) inside a window sort key gets
    // re-evaluated during sort comparisons — an inconsistent comparator
    // ("Comparison method violates its general contract!") or silent
    // misgrouping. The order columns are unique per row, so their hash
    // spreads a hot key's versions evenly across salt groups.
    val salted = df.withColumn("__salt", pmod(hash(present.map(col): _*), lit(salt)))
    val w1 = Window.partitionBy((pks :+ "__salt").map(col): _*)
      .orderBy(present.map(c => col(c).desc_nulls_last): _*)
    val partial = salted.withColumn("__rn", row_number().over(w1))
      .filter(col("__rn") === 1).drop("__rn", "__salt")
    dedupLatest(partial, pks, orderCols)
  }

  /**
   * Skew-aware dedup selection: a sampled PK histogram (one cheap probe
   * job, fixed seed — deterministic) routes HOT-KEY inputs to
   * [[dedupLatestSalted]] and everything else to the plain
   * [[dedupLatest]] hash-agg. The hash-agg is already skew-immune for
   * SHUFFLE purposes (partial aggregation collapses each mapper's keys
   * before the exchange), but its aggregation buffer carries one full
   * row struct per distinct key per mapper — under a hot key with wide
   * rows and high update fan-in, the salted two-phase window bounds
   * every sort partition to rows/salt instead. Both paths produce
   * identical output (latest-of-latests ≡ latest; spec-pinned), so the
   * probe is free to be heuristic:
   *
   *  - `graft.merge.skewProbeFraction` (default 0.05): sample fraction;
   *  - `graft.merge.skewProbeMinRows` (default 1000): below this many
   *    sampled rows skew cannot hurt — skip straight to the hash-agg;
   *  - `graft.merge.saltSkewShare` (default 0.3): a single PK owning
   *    more than this share of the sample selects the salted plan.
   */
  def dedupLatestAuto(
      df: DataFrame, pks: Seq[String],
      orderCols: Seq[String] = Seq(Records.ExtractedAtColumn, Records.RawIdColumn)): DataFrame =
    dedupPick(df, pks, probeSkew(df, pks), orderCols)

  /** The sampled skew probe factored out of [[dedupLatestAuto]] (round
    * 17) so a caller that merges the same stream repeatedly in one
    * session can run it once and reuse the DECISION — the probe is one
    * full sampled scan of both merge sides per call, and both dedup
    * plans it selects between produce identical output (spec-pinned),
    * so the decision is free to be memoized. */
  def probeSkew(df: DataFrame, pks: Seq[String]): Boolean = {
    require(pks.nonEmpty, "merge/dedup requires primary keys")
    val spark = df.sparkSession
    def conf(k: String, d: Double): Double =
      spark.conf.getOption(k).map(_.toDouble).getOrElse(d)
    val fraction = conf("graft.merge.skewProbeFraction", 0.05)
    val minRows = conf("graft.merge.skewProbeMinRows", 1000.0)
    val shareThreshold = conf("graft.merge.saltSkewShare", 0.3)
    val probe = df.sample(withReplacement = false, math.min(1.0, fraction), seed = 42L)
      .groupBy(pks.map(col): _*).agg(count(lit(1)).as("__n"))
      .agg(coalesce(max(col("__n")), lit(0L)).as("mx"),
        coalesce(sum(col("__n")), lit(0L)).as("tot"))
      .collect()(0)
    val (mx, tot) = (probe.getLong(0), probe.getLong(1))
    tot >= minRows && mx.toDouble / tot.toDouble > shareThreshold
  }

  /** Route a (possibly memoized) skew verdict to the physical dedup
    * plan — the selection half of [[dedupLatestAuto]]. */
  def dedupPick(
      df: DataFrame, pks: Seq[String], skewed: Boolean,
      orderCols: Seq[String] = Seq(Records.ExtractedAtColumn, Records.RawIdColumn)): DataFrame = {
    require(pks.nonEmpty, "merge/dedup requires primary keys")
    val present = orderCols.filter(df.columns.map(_.toLowerCase(java.util.Locale.ROOT)).contains(_))
    if (skewed && present.nonEmpty) dedupLatestSalted(df, pks, orderCols = orderCols)
    else dedupLatest(df, pks, orderCols)
  }

  /** Merge incoming into existing: last-wins per PK, idempotent. The
    * skew probe ([[dedupLatestAuto]]) picks the physical dedup plan;
    * `skewHint` (round 17) lets a session that already probed this
    * stream skip the probe scan — the hint only selects between two
    * output-identical plans. */
  def merge(existing: Option[DataFrame], incoming: DataFrame, pks: Seq[String],
      skewHint: Option[Boolean] = None): DataFrame = {
    val unioned = existing match {
      case Some(e) => e.unionByName(incoming, allowMissingColumns = true)
      case None    => incoming
    }
    skewHint match {
      case Some(s) => dedupPick(unioned, pks, s)
      case None    => dedupLatestAuto(unioned, pks)
    }
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
