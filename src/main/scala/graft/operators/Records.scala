package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Dataset, Encoders, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.names.NameNormalizer
import graft.protocol.RecordEnvelope

/**
 * Record normalization: raw connector JSON → declared-schema DataFrame
 * with Airbyte metadata columns.
 *
 * Mirrors the reference's `StreamRecord` projection semantics
 * (PyAirbyte `airbyte/records.py:93-171,200-241`):
 *   - fields are matched case-insensitively against the declared schema
 *   - missing declared fields surface as NULL
 *   - undeclared fields are pruned
 *   - top-level names are normalized (lowercase/underscore)
 *   - three metadata columns are appended
 *     (`airbyte/constants.py:16-39`, `airbyte/shared/sql_processor.py:742-744`)
 *
 * Where the reference does this per-record in Python dicts, we do it as a
 * single vectorized `from_json` projection — Catalyst's JSON parser already
 * implements null-for-missing + prune-extra, and the whole pipeline stays
 * inside whole-stage codegen. At 100 TB this runs fully parallel across
 * executors with no driver involvement.
 */
object Records {

  val RawIdColumn = "_airbyte_raw_id"
  val ExtractedAtColumn = "_airbyte_extracted_at"
  val MetaColumn = "_airbyte_meta"
  val InternalColumns: Seq[String] = Seq(RawIdColumn, ExtractedAtColumn, MetaColumn)

  /** Declared schema + metadata columns, as materialized in cache tables. */
  def withMetadataFields(declared: StructType): StructType =
    StructType(declared.fields.toSeq ++ Seq(
      StructField(RawIdColumn, StringType, nullable = false),
      StructField(ExtractedAtColumn, TimestampType, nullable = true),
      StructField(MetaColumn, StringType, nullable = true)))

  /**
   * Parse a dataset of raw JSON record payloads against the declared
   * schema and append metadata columns.
   *
   * `declared` should carry the WIRE-case field names (`from_json` key
   * matching is case-sensitive — a schema pre-normalized to lowercase
   * silently nulls every `Column1`-style key, the reference's GAds/
   * source-test shape); the parsed columns are then renamed through
   * the normalizer, a no-op for already-normalized names, so both
   * calling conventions land on normalized output.
   *
   * @param json        one JSON object per element (`data` payload)
   * @param declared    declared schema, wire-case names preferred
   * @param extractedAt column giving emitted-at; defaults to now()
   */
  def normalize(
      json: Dataset[String],
      declared: StructType,
      extractedAt: Option[Column] = None): DataFrame = {
    val spark = json.sparkSession
    val parsed = json.toDF("_raw_json")
      .select(from_json(col("_raw_json"), declared).as("r"))
      .select(col("r.*"))
    addMetadata(normalizeColumnNames(parsed), extractedAt)
  }

  /**
   * Protocol-envelope normalization — the ingest hot path: the RECORD
   * envelopes of `lines` ([[protocolEnvelopes]]), the target stream's
   * records ([[streamRecords]]), each `data` payload parsed against the
   * declared schema.
   *
   * Each call splits `lines` again. `JsonlSource.read` calls `lines`
   * once per selected stream and persists the first stream's envelopes,
   * so the later streams' identical envelope plans read Spark's cached
   * copy and the file is scanned and tokenized once per read. That reuse
   * needs `lines` to return datasets with identical plans; with plans
   * that differ the results stay the same, but the file is split once per
   * stream again.
   */
  def normalizeProtocol(
      lines: Dataset[String],
      stream: String,
      declared: StructType): DataFrame =
    streamRecords(protocolEnvelopes(lines), stream, declared)

  /** Splits a partition's lines; one function value, so every envelope
    * plan built from the same `lines` plan is the same plan. */
  private val splitLines: Iterator[String] => Iterator[RecordEnvelope] =
    _.flatMap(RecordEnvelope.split)

  /** The RECORD envelopes of protocol lines (`stream`, the exact `data`
    * object text, `emittedAt`), one Jackson streaming pass per line
    * ([[RecordEnvelope.split]]). Every other line is dropped. */
  def protocolEnvelopes(lines: Dataset[String]): DataFrame =
    lines.mapPartitions(splitLines)(Encoders.product[RecordEnvelope]).toDF()

  /**
   * One stream's records out of [[protocolEnvelopes]] ([[streamEnvelopes]]):
   * `data` is parsed with `from_json` against the declared schema (a
   * mistyped field is null, the row is kept; a missing or non-object
   * `data` gives a row of nulls), and
   * `_airbyte_extracted_at` is the record's own emitted_at (reference
   * `records.py:256`), or now() when that is absent.
   */
  def streamRecords(envelopes: DataFrame, stream: String, declared: StructType): DataFrame = {
    val shaped = streamEnvelopes(envelopes, stream)
      .select(from_json(col("data"), declared).as("r"),
        coalesce(timestamp_millis(col("emittedAt")), current_timestamp()).as("__extracted_src"))
      .select(col("r.*"), col("__extracted_src"))
    // wire-case payload names → normalized (see normalize())
    addMetadata(normalizeColumnNames(shaped), Some(col("__extracted_src")))
      .drop("__extracted_src")
  }

  /** The envelopes of one stream; the name matches case-insensitively. */
  def streamEnvelopes(envelopes: DataFrame, stream: String): DataFrame =
    envelopes.filter(lower(col("stream")) === stream.toLowerCase(java.util.Locale.ROOT))

  /**
   * Normalize with DEAD-LETTER routing: records whose payload fails to
   * parse against the declared schema land in a rejects frame (raw line
   * + error tag) instead of silently nulling out. One pass, one
   * `from_json` evaluation; the split is a filter on the same plan —
   * at scale both sides stay distributed and the happy path pays
   * nothing extra. (`from_json` in PERMISSIVE mode yields an all-null
   * struct for unparsable input; a record of actual nulls keeps its
   * raw text distinguishable via the corrupt-record marker.)
   */
  def normalizeWithRejects(
      json: Dataset[String],
      declared: StructType,
      extractedAt: Option[Column] = None): (DataFrame, DataFrame) = {
    val withCorrupt = StructType(declared.fields :+
      StructField("_corrupt_record", StringType))
    val parsed = json.toDF("_raw_json")
      .withColumn("r", from_json(col("_raw_json"), withCorrupt,
        Map("mode" -> "PERMISSIVE", "columnNameOfCorruptRecord" -> "_corrupt_record")))
      .localCheckpoint() // evaluate the parse ONCE for both splits
    val bad = parsed
      .filter(col("r").isNull || col("r._corrupt_record").isNotNull)
      .select(col("_raw_json").as("raw"),
        lit("JSON_PARSE_ERROR").as("reject_reason"))
    val good = parsed
      .filter(col("r").isNotNull && col("r._corrupt_record").isNull)
      .select(col("r.*")).drop("_corrupt_record")
    (addMetadata(good, extractedAt), bad)
  }

  /** Append the three metadata columns to an already-shaped DataFrame. */
  def addMetadata(df: DataFrame, extractedAt: Option[Column] = None): DataFrame =
    df.withColumn(RawIdColumn, graft.functions.functions.uuid7())
      .withColumn(ExtractedAtColumn,
        extractedAt.getOrElse(current_timestamp()).cast(TimestampType))
      .withColumn(MetaColumn, lit("{}"))

  /**
   * Project an arbitrary DataFrame onto a declared schema:
   * case-insensitive match, null-fill missing, prune extras, cast to the
   * declared type. (`records.py` P1/P2 as one `select`.)
   */
  def project(df: DataFrame, declared: StructType): DataFrame = {
    val byLower = df.columns.map(c => c.toLowerCase(java.util.Locale.ROOT) -> c).toMap
    val cols = declared.fields.map { f =>
      byLower.get(f.name.toLowerCase(java.util.Locale.ROOT)) match {
        case Some(actual) => col(actual).cast(f.dataType).as(f.name)
        case None         => lit(null).cast(f.dataType).as(f.name)
      }
    }
    df.select(cols.toSeq: _*)
  }

  /** Rename top-level columns via the normalizer (P3). */
  def normalizeColumnNames(df: DataFrame): DataFrame = {
    val seen = scala.collection.mutable.LinkedHashSet.empty[String]
    val names = df.columns.map { c =>
      val n = NameNormalizer.normalize(c)
      // disambiguate collisions deterministically
      var candidate = n
      var i = 1
      while (!seen.add(candidate)) { candidate = s"${n}_$i"; i += 1 }
      candidate
    }
    df.toDF(names.toSeq: _*)
  }

  /** Drop internal `_airbyte_*` columns for display paths (P5). */
  def dropInternalColumns(df: DataFrame): DataFrame =
    df.drop(InternalColumns: _*)
}
