package graft.streaming

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.cache.CacheTables
import graft.operators.Dedup

/**
 * Incremental near-dup filtering of a LIVE document stream — the
 * streaming face of the batch `Dedup` family: each micro-batch is
 * deduplicated within itself (MinHash-LSH, smaller id wins) and then
 * probed against the accumulated corpus SIGNATURE INDEX
 * ([[Dedup.signatureIndex]] / [[Dedup.probeNearDups]]) so history is
 * never re-hashed; survivors fold their own signatures into the index
 * and become the corpus later batches dedup against.
 *
 * State design for scale: the index is one row per (doc, band) of ids
 * + shingle sets only — NOT the documents — and lives as a PERSISTENT
 * band_key-bucketed table. Each fold APPENDS exactly the survivors'
 * signature rows (per-batch write cost ∝ batch rows, independent of
 * corpus history — pinned by the spec's cost assertion), the bucketing
 * lets the probe join shuffle only the batch side (the index never
 * moves), and the index survives the session: a new StreamingDedup
 * pointed at the same table resumes where the last one stopped
 * (restart-resume is spec-pinned too).
 *
 * The reference's closest surface is incremental sync with
 * deduplicating merge writes (`airbyte/shared/sql_processor.py`'s
 * merge-upsert path); this extends the same contract from exact-PK
 * identity to near-duplicate content identity — and its state story
 * (durable, resumable, append-only per batch) from cursors
 * (`airbyte/caches/base.py` state tables) to content signatures.
 */
final class StreamingDedup(
    idCol: String, textCol: String,
    threshold: Double = 0.5,
    numHashes: Int = 9, bands: Int = 3, shingle: Int = 3,
    /** Name of the persistent signature-index table (created on first
      * fold, appended per batch, reused across restarts). */
    indexTable: String = "stream_dedup_index",
    indexBuckets: Int = 8) {

  private def indexExists(spark: SparkSession): Boolean =
    spark.catalog.tableExists(indexTable)

  private def index(spark: SparkSession): Option[DataFrame] =
    if (indexExists(spark)) Some(spark.table(indexTable)) else None

  /** Companion one-row table pinning the signature parameters the index
    * was built with. Signatures from different (numHashes, bands,
    * shingle, threshold) settings are NOT comparable — probing an index
    * built under other parameters silently corrupts dedup decisions —
    * so resume validates and fails fast instead. */
  private val metaTable = indexTable + "_params"

  private def paramsRow: (Int, Int, Int, Double) =
    (numHashes, bands, shingle, threshold)

  /** Fail fast if the persisted index was built with different
    * parameters; record ours on first contact. An index table with no
    * companion params row is treated as foreign (pre-validation or
    * another writer's) and refused rather than guessed at. */
  private def validateOrRecordParams(spark: SparkSession): Unit = {
    import spark.implicits._
    if (spark.catalog.tableExists(metaTable) && !indexExists(spark)) {
      // A params row with no index is the residue of a first batch that
      // failed between recording params and writing signatures. Nothing
      // exists to be incompatible with — adopt the current parameters
      // rather than refusing a retry under corrected settings.
      CacheTables.save(Seq(paramsRow).toDF("num_hashes", "bands", "shingle", "threshold")
        .write.mode(SaveMode.Overwrite), metaTable)
    } else if (spark.catalog.tableExists(metaTable)) {
      val (h, b, s, t) = spark.table(metaTable)
        .select("num_hashes", "bands", "shingle", "threshold")
        .as[(Int, Int, Int, Double)].head()
      val persisted = (h, b, s, t)
      require(persisted == paramsRow,
        s"signature index '$indexTable' was built with " +
          s"(numHashes=$h, bands=$b, shingle=$s, threshold=$t) but this " +
          s"StreamingDedup uses (numHashes=$numHashes, bands=$bands, " +
          s"shingle=$shingle, threshold=$threshold); signatures are not " +
          "comparable across parameters — use a matching configuration " +
          "or a different indexTable")
    } else if (indexExists(spark)) {
      throw new IllegalStateException(
        s"signature index '$indexTable' exists but has no companion " +
          s"'$metaTable' params table; refusing to resume against an " +
          "index whose build parameters are unknown")
    } else {
      CacheTables.save(Seq(paramsRow).toDF("num_hashes", "bands", "shingle", "threshold")
        .write.mode(SaveMode.ErrorIfExists), metaTable)
    }
  }

  /** Distinct documents currently represented in the signature index. */
  def indexedDocs(spark: SparkSession): Long =
    index(spark).map(_.select("id").distinct().count()).getOrElse(0L)

  /** Rows (doc × band) currently in the signature index — the spec's
    * cost probe: the delta per fold must equal the survivors'
    * signature rows, never a history rewrite. */
  def indexRows(spark: SparkSession): Long =
    index(spark).map(_.count()).getOrElse(0L)

  /**
   * One micro-batch: returns the surviving (novel) rows of `batch` and
   * appends their signatures to the index table. Deterministic
   * regardless of batch partitioning: intra-batch near-dup classes
   * keep their smallest id; anything matching the corpus-so-far drops.
   */
  def processBatch(batch: DataFrame): DataFrame = {
    val spark = batch.sparkSession
    validateOrRecordParams(spark)
    val cached = batch.localCheckpoint() // read 3×: pairs, probe, survivors
    // intra-batch: any id near-dupping a SMALLER id in the same batch
    val intraDrop = Dedup.minhashNearDups(
        cached, idCol, textCol, threshold, numHashes, bands, shingle)
      .select(col("id_b").as(idCol)).distinct()
    // cross-batch: any id near-dupping the accumulated corpus
    val crossDrop = index(spark) match {
      case Some(idx) =>
        Dedup.probeNearDups(cached, idx, idCol, textCol,
            threshold, numHashes, bands, shingle)
          .select(col("new_id").as(idCol)).distinct()
      case None => cached.select(col(idCol)).limit(0)
    }
    val survivors = cached
      .join(intraDrop.unionByName(crossDrop).distinct(), Seq(idCol), "left_anti")
      .localCheckpoint()
    val newEntries = Dedup.signatureIndex(
      survivors, idCol, textCol, numHashes, bands, shingle)
    // append-only fold: exactly the survivors' (doc, band) rows hit
    // storage; bucketing by band_key keeps future probe joins from
    // shuffling the index side
    CacheTables.save(newEntries.write
      .mode(SaveMode.Append)
      .bucketBy(indexBuckets, "band_key")
      .sortBy("band_key"), indexTable)
    survivors
  }

  /**
   * Attach to a streaming DataFrame: novel documents flow to `sink`
   * per micro-batch. `foreachBatch` is the right harness because the
   * index fold is a batch-side DataFrame operation (exactly how
   * Structured Streaming integrates non-windowed batch state).
   */
  def start(stream: DataFrame, sink: DataFrame => Unit): StreamingQuery =
    stream.writeStream
      .foreachBatch { (batch: DataFrame, _: Long) =>
        sink(processBatch(batch))
      }
      .start()
}
