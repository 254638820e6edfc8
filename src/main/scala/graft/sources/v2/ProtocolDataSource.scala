package graft.sources.v2

import java.util
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.catalyst.{InternalRow, StructFilters}
import org.apache.spark.sql.catalyst.expressions.{And, BasePredicate, BoundReference, Expression, Literal, Predicate}
import org.apache.spark.sql.catalyst.json.{CreateJacksonParser, JSONOptions, JacksonParser}
import org.apache.spark.sql.catalyst.util.{FailureSafeParser, PermissiveMode}
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.sources.Filter
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

import graft.protocol.{ConfiguredCatalog, ConfiguredStream, RecordEnvelope}

/**
 * DataSourceV2 packaging of the connector-protocol scan (SURVEY §2.1 S1):
 *
 * {{{
 *   spark.read.format("graft.sources.v2.ProtocolDataSource")
 *     .option("catalogJson", discoverOutput)   // declared schemas (S2)
 *     .option("stream", "users")
 *     .load("/staging/users")                  // JSONL or JSONL.gz files
 * }}}
 *
 * The schema is DECLARED (from the connector's discover catalog), never
 * inferred from data — the reference's core schema rule (§1.2); records
 * are projected to it with null-fill for missing fields and pruning of
 * undeclared ones (P1/P2), plus an `_airbyte_extracted_at` timestamp from
 * the record's own `emitted_at` (§1.4). Spark-native behaviors:
 *
 *  - one InputPartition per staged file — the connector's batch-spill
 *    unit (S4, ~100k records/file) is the parallelism unit, so a sync's
 *    files fan out across executors;
 *  - each `data` payload is converted by Spark's own JSON parser
 *    (`JacksonParser`, the engine behind `from_json`), so this reader
 *    and the `JsonlSource` path read a record alike; payload keys match
 *    their declared wire names exactly;
 *  - column pruning is pushed INTO the reader
 *    (SupportsPushDownRequiredColumns): `select(one_col)` parses only
 *    that field from each record's JSON;
 *  - filters on payload columns are pushed into the reader, which
 *    drops a rejected record before it becomes a Spark row; every filter
 *    is also kept as residual;
 *  - gzip (`.gz`) files stream-decode, matching the reference's
 *    JSONL.gz spill format.
 *
 * Reference: airbyte/sources/base.py:758-806 (read loop),
 * airbyte/_writers/jsonl.py:24-59 (spill format).
 */
class ProtocolDataSource extends TableProvider {
  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    ProtocolDataSource.schemaFor(options)

  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: util.Map[String, String]): Table =
    new ProtocolTable(schema, new CaseInsensitiveStringMap(properties))

  override def supportsExternalMetadata(): Boolean = true
}

object ProtocolDataSource {
  val ExtractedAt = "_airbyte_extracted_at"

  def schemaFor(options: CaseInsensitiveStringMap): StructType =
    StructType(streamFor(options).schema.fields :+ StructField(ExtractedAt, TimestampType))

  /** The configured stream the `catalogJson` and `stream` options name. */
  def streamFor(options: CaseInsensitiveStringMap): ConfiguredStream = {
    val catalogJson = Option(options.get("catalogJson")).getOrElse(
      throw new graft.errors.GraftInputError(
        "graft protocol source needs option 'catalogJson' (discover output)",
        guidance = Some("Pass .option(\"catalogJson\", source.discoverJson) " +
          "on the read.")))
    val stream = Option(options.get("stream")).getOrElse(
      throw new graft.errors.GraftInputError(
        "graft protocol source needs option 'stream'",
        guidance = Some("Pass .option(\"stream\", <stream name>) naming a " +
          "stream from the configured catalog.")))
    ConfiguredCatalog.fromCatalogJson(catalogJson)(stream)
  }

  /** Staged files under the load path(s); deterministic order. */
  def listFiles(options: CaseInsensitiveStringMap): Seq[String] = {
    val mapper = new ObjectMapper()
    val paths: Seq[String] =
      Option(options.get("paths")).map { js =>
        mapper.readTree(js).elements().asScala.map(_.asText()).toSeq
      }.orElse(Option(options.get("path")).map(Seq(_)))
        .getOrElse(throw new graft.errors.GraftInputError(
          "no path given",
          guidance = Some("Pass .option(\"path\", ...) or a JSON array " +
            "via .option(\"paths\", ...).")))
    val conf = new Configuration()
    paths.flatMap { p =>
      val hp = new Path(p)
      val fs = FileSystem.get(hp.toUri, conf)
      val st = fs.getFileStatus(hp)
      if (st.isDirectory)
        fs.listStatus(hp).toSeq.filter(_.isFile).map(_.getPath.toString)
          .filter(f => f.endsWith(".jsonl") || f.endsWith(".jsonl.gz") ||
            f.endsWith(".json") || f.endsWith(".json.gz"))
      else Seq(st.getPath.toString)
    }.sorted
  }
}

private[v2] class ProtocolTable(schema: StructType,
    options: CaseInsensitiveStringMap) extends Table with SupportsRead {

  override def name(): String =
    s"airbyte_protocol(${options.get("stream")})"
  override def schema(): StructType = schema
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ)

  override def newScanBuilder(caseInsensitiveOptions: CaseInsensitiveStringMap): ScanBuilder = {
    val merged = new util.HashMap[String, String]()
    merged.putAll(options)
    merged.putAll(caseInsensitiveOptions)
    new ProtocolScanBuilder(schema, new CaseInsensitiveStringMap(merged))
  }
}

private[v2] class ProtocolScanBuilder(full: StructType,
    options: CaseInsensitiveStringMap)
    extends ScanBuilder with SupportsPushDownRequiredColumns
    with SupportsPushDownFilters {

  private val declared = ProtocolDataSource.streamFor(options)
  private val sessionTz = SQLConf.get.sessionLocalTimeZone
  private var required: StructType = full
  private var pushed: Array[Filter] = Array.empty

  override def pruneColumns(requiredSchema: StructType): Unit =
    required = requiredSchema

  /** `required` without `_airbyte_extracted_at`, under the payload's
    * wire names: the schema the JSON parser reads `data` with. A column
    * the catalog does not declare keeps its own name. */
  private def wireRequired: StructType = {
    val wire = declared.schema.fieldNames.zip(declared.parseSchema.fieldNames).toMap
    StructType(required.filterNot(_.name == ProtocolDataSource.ExtractedAt)
      .map(f => f.copy(name = wire.getOrElse(f.name, f.name))))
  }

  /** Filters on payload columns are evaluated in the reader on each
    * converted row, so a rejected record never reaches Spark — the
    * scan-level analog of the reference's lazy filter chain (P4) and the
    * incremental cursor filter (ST5). Every filter is also returned as
    * residual and Spark re-checks it: pushdown here saves row
    * materialization and is never a correctness dependency. */
  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    pushed = StructFilters.pushedFilters(filters, wireRequired)
    filters
  }
  override def pushedFilters(): Array[Filter] = pushed

  override def build(): Scan =
    new ProtocolScan(required, wireRequired, options.get("stream"),
      ProtocolDataSource.listFiles(options), pushed, sessionTz,
      nowMicros = System.currentTimeMillis() * 1000L)
}

private[v2] case class ProtocolFilePartition(file: String) extends InputPartition

/** `nowMicros` stamps the records whose `emitted_at` is absent or not a
  * whole number, one instant per scan, like `current_timestamp()` per
  * query on the `JsonlSource` path. `sessionTz` reads zoneless
  * timestamps, as `from_json` does under the session's time zone. */
private[v2] class ProtocolScan(required: StructType, wireRequired: StructType,
    stream: String, files: Seq[String], pushed: Array[Filter],
    sessionTz: String, nowMicros: Long) extends Scan with Batch {

  override def readSchema(): StructType = required
  override def toBatch: Batch = this
  override def description(): String =
    s"graft protocol scan: stream=$stream files=${files.size} " +
      s"readSchema=${required.fieldNames.mkString(",")} " +
      s"pushedFilters=[${pushed.mkString(", ")}]"

  override def planInputPartitions(): Array[InputPartition] =
    files.map(ProtocolFilePartition.apply).toArray

  override def createReaderFactory(): PartitionReaderFactory =
    new ProtocolReaderFactory(required, wireRequired, stream, pushed, sessionTz, nowMicros)
}

private[v2] class ProtocolReaderFactory(required: StructType,
    wireRequired: StructType, stream: String, pushed: Array[Filter],
    sessionTz: String, nowMicros: Long) extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] =
    new ProtocolFileReader(partition.asInstanceOf[ProtocolFilePartition].file,
      required, wireRequired, stream, pushed, sessionTz, nowMicros)
}

/**
 * Streams one staged JSONL(.gz) file: split the protocol envelope, keep
 * RECORDs of the target stream, and parse the `data` slice with the
 * objects `from_json` builds — Spark's `JacksonParser` over the
 * required (possibly pruned) wire-name schema, in PERMISSIVE mode — so
 * both readers convert a payload by one rule (SURVEY §1.3): a missing
 * field or a value of the wrong JSON kind is null, and the row is kept.
 * Keys match their declared wire names exactly, as in `from_json`.
 * `_airbyte_extracted_at` comes from the envelope, never the payload.
 * Runs on executors — the driver only lists files.
 */
private[v2] class ProtocolFileReader(file: String, required: StructType,
    wireRequired: StructType, stream: String, pushed: Array[Filter],
    sessionTz: String, nowMicros: Long)
    extends PartitionReader[InternalRow] {

  private val parser = {
    val options = new JSONOptions(Map.empty[String, String], sessionTz, "_corrupt_record")
    val jackson = new JacksonParser(wireRequired, options, allowArrayAsStructs = false)
    new FailureSafeParser[String](
      jackson.parse(_, CreateJacksonParser.string, UTF8String.fromString),
      PermissiveMode, wireRequired, "_corrupt_record")
  }

  /** The pushed filters as one predicate over a converted row, through
    * Spark's own filter translation. It runs after conversion, not
    * inside the parse (`JsonFilters`), because the parse decides a
    * filter on the first of duplicate keys while the row keeps the last. */
  private val keep: BasePredicate = {
    val ref = (name: String) => Some(wireRequired.fieldNames.indexOf(name)).filter(_ >= 0)
      .map(i => BoundReference(i, wireRequired(i).dataType, nullable = true))
    Predicate.create(pushed.flatMap(StructFilters.filterToExpression(_, ref))
      .reduceOption[Expression](And).getOrElse(Literal.TrueLiteral))
  }
  private val extractedAtIndex = required.fieldNames.indexOf(ProtocolDataSource.ExtractedAt)
  private val reader = {
    val hp = new Path(file)
    val fs = FileSystem.get(hp.toUri, new Configuration())
    val in: java.io.InputStream =
      if (file.endsWith(".gz")) new java.util.zip.GZIPInputStream(fs.open(hp))
      else fs.open(hp)
    new java.io.BufferedReader(new java.io.InputStreamReader(in, "UTF-8"))
  }
  private var row: InternalRow = _

  /** One envelope split and one parse of the exact `data` slice per
    * line ([[RecordEnvelope.split]], as `JsonlSource` reads). A missing
    * or non-object `data` gives a row of nulls, an absent, quoted or
    * fractional `emitted_at` gives the scan's now(), and a row the
    * pushed filters reject is skipped. */
  override def next(): Boolean = {
    var line = reader.readLine()
    while (line != null) {
      RecordEnvelope.split(line) match {
        case Some(r) if r.stream.equalsIgnoreCase(stream) =>
          val kept = parser.parse(if (r.data == null) "{}" else r.data).find(keep.eval)
          if (kept.isDefined) {
            row = withExtractedAt(kept.get, r.emittedAt.fold(nowMicros)(_ * 1000L))
            return true
          }
        case _ => ()
      }
      line = reader.readLine()
    }
    false
  }

  override def get(): InternalRow = row
  override def close(): Unit = reader.close()

  /** The parsed payload columns with `extractedAt` (micros) inserted at
    * `_airbyte_extracted_at`'s position in `required`. */
  private def withExtractedAt(parsed: InternalRow, extractedAt: Long): InternalRow =
    if (extractedAtIndex < 0) parsed
    else InternalRow.fromSeq(
      parsed.toSeq(wireRequired).patch(extractedAtIndex, Seq(extractedAt), 0))
}
