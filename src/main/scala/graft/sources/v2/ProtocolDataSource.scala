package graft.sources.v2

import java.util
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

import graft.protocol.{ConfiguredCatalog, RecordEnvelope}

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
 *  - column pruning is pushed INTO the reader
 *    (SupportsPushDownRequiredColumns): `select(one_col)` parses only
 *    that field from each record's JSON;
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

  def schemaFor(options: CaseInsensitiveStringMap): StructType = {
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
    val declared = ConfiguredCatalog.fromCatalogJson(catalogJson)(stream).schema
    StructType(declared.fields :+ StructField(ExtractedAt, TimestampType))
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

  import org.apache.spark.sql.sources._

  private var required: StructType = full
  private var pushed: Array[Filter] = Array.empty

  override def pruneColumns(requiredSchema: StructType): Unit =
    required = requiredSchema

  /** Comparison filters on scalar declared fields evaluate inside the
    * reader, BEFORE a row is materialized — the scan-level analog of the
    * reference's lazy filter chain (P4) and the incremental cursor
    * filter (ST5: `cursor > saved_state` skips already-synced records
    * at parse time). All filters are also returned as residual, so
    * Spark re-checks them — pushdown here is a row-materialization
    * saving, never a correctness dependency. */
  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    pushed = filters.filter(FilterEval.supported(full, _))
    filters // residual: Spark re-evaluates everything post-scan
  }
  override def pushedFilters(): Array[Filter] = pushed

  override def build(): Scan =
    new ProtocolScan(required, options.get("stream"),
      ProtocolDataSource.listFiles(options), pushed,
      nowMicros = System.currentTimeMillis() * 1000L)
}

/** Evaluate pushed comparison filters against the parsed JSON payload. */
private[v2] object FilterEval {
  import org.apache.spark.sql.sources._

  def supported(schema: StructType, f: Filter): Boolean = f match {
    case EqualTo(a, _) => scalar(schema, a)
    case GreaterThan(a, _) => scalar(schema, a)
    case GreaterThanOrEqual(a, _) => scalar(schema, a)
    case LessThan(a, _) => scalar(schema, a)
    case LessThanOrEqual(a, _) => scalar(schema, a)
    case IsNotNull(a) => schema.fieldNames.contains(a)
    case IsNull(a) => schema.fieldNames.contains(a)
    case _ => false
  }

  private def scalar(schema: StructType, name: String): Boolean =
    schema.fields.find(_.name == name).exists(_.dataType match {
      case LongType | IntegerType | DoubleType | StringType | BooleanType => true
      case _ => false
    })

  /** null-safe comparison semantics: a null field fails every
    * comparison filter (matching SQL) except IsNull. */
  def eval(f: Filter, field: String => JsonNode): Boolean = f match {
    case EqualTo(a, v) => cmp(field(a), v).contains(0)
    case GreaterThan(a, v) => cmp(field(a), v).exists(_ > 0)
    case GreaterThanOrEqual(a, v) => cmp(field(a), v).exists(_ >= 0)
    case LessThan(a, v) => cmp(field(a), v).exists(_ < 0)
    case LessThanOrEqual(a, v) => cmp(field(a), v).exists(_ <= 0)
    case IsNotNull(a) => { val n = field(a); n != null && !n.isNull }
    case IsNull(a) => { val n = field(a); n == null || n.isNull }
    case _ => true
  }

  private def cmp(n: JsonNode, v: Any): Option[Int] = {
    if (n == null || n.isNull) return None
    v match {
      case l: java.lang.Long => Some(java.lang.Long.compare(n.asLong(), l))
      case i: java.lang.Integer => Some(java.lang.Long.compare(n.asLong(), i.longValue()))
      case d: java.lang.Double => Some(java.lang.Double.compare(n.asDouble(), d))
      case s: String => Some(n.asText().compareTo(s))
      case b: java.lang.Boolean => Some(java.lang.Boolean.compare(n.asBoolean(), b))
      case _ => None
    }
  }
}

private[v2] case class ProtocolFilePartition(file: String) extends InputPartition

/** `nowMicros` stamps the records whose `emitted_at` is absent or not a
  * whole number, one instant per scan, like `current_timestamp()` per
  * query on the `JsonlSource` path. */
private[v2] class ProtocolScan(required: StructType, stream: String,
    files: Seq[String],
    pushed: Array[org.apache.spark.sql.sources.Filter],
    nowMicros: Long) extends Scan with Batch {

  override def readSchema(): StructType = required
  override def toBatch: Batch = this
  override def description(): String =
    s"graft protocol scan: stream=$stream files=${files.size} " +
      s"readSchema=${required.fieldNames.mkString(",")} " +
      s"pushedFilters=[${pushed.mkString(", ")}]"

  override def planInputPartitions(): Array[InputPartition] =
    files.map(ProtocolFilePartition.apply).toArray

  override def createReaderFactory(): PartitionReaderFactory =
    new ProtocolReaderFactory(required, stream, pushed, nowMicros)
}

private[v2] class ProtocolReaderFactory(required: StructType, stream: String,
    pushed: Array[org.apache.spark.sql.sources.Filter], nowMicros: Long)
    extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] =
    new ProtocolFileReader(partition.asInstanceOf[ProtocolFilePartition].file,
      required, stream, pushed, nowMicros)
}

/**
 * Streams one staged JSONL(.gz) file: parse the protocol envelope, keep
 * RECORDs of the target stream, convert the `data` payload to the
 * required (possibly pruned) schema. Conversion rules follow the type
 * system (SURVEY §1.3): missing or of the wrong JSON kind → null (as
 * `from_json` on the `JsonlSource` path), objects/arrays → canonical JSON
 * text, unknown → string failover; field lookup is case-insensitive
 * (F9). Runs on executors — the driver only lists files.
 */
private[v2] class ProtocolFileReader(file: String, required: StructType,
    stream: String,
    pushed: Array[org.apache.spark.sql.sources.Filter],
    nowMicros: Long)
    extends PartitionReader[InternalRow] {

  private val mapper = RecordEnvelope.dataMapper
  private val noData = mapper.createObjectNode()
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
    * or non-object `data` gives a row of nulls, and an absent, quoted or
    * fractional `emitted_at` gives the scan's now(). */
  override def next(): Boolean = {
    var line = reader.readLine()
    while (line != null) {
      RecordEnvelope.split(line) match {
        case Some(r) if r.stream.equalsIgnoreCase(stream) =>
          val data = if (r.data == null) noData else mapper.readTree(r.data)
          val extractedAt = r.emittedAt.fold(nowMicros)(_ * 1000L) // millis → micros
          if (pushed.forall(FilterEval.eval(_, filterNode(data, extractedAt, _)))) {
            row = convert(data, extractedAt)
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

  /** Field resolver for pushed-filter evaluation. `_airbyte_extracted_at`
    * is NOT in the data payload — it comes from the protocol envelope's
    * `emitted_at` — so it must be resolved there, or Spark's auto-inferred
    * `IsNotNull(_airbyte_extracted_at)` would evaluate false for every
    * record and the reader would drop all rows. Comparisons on it are
    * never pushed (TimestampType is outside FilterEval.scalar), so a
    * numeric stand-in node is only ever null-checked. */
  private def filterNode(data: JsonNode, extractedAt: Long,
      name: String): JsonNode =
    if (name.equalsIgnoreCase(ProtocolDataSource.ExtractedAt))
      mapper.getNodeFactory.numberNode(extractedAt)
    else {
      val n = fieldNode(data, name)
      if (n == null || required.find(_.name == name).forall(f => accepts(n, f.dataType))) n
      else null // reads as null, so IsNull must see null too
    }

  private def fieldNode(data: JsonNode, name: String): JsonNode = {
    val exact = data.get(name)
    if (exact != null) return exact
    val it = data.fieldNames()
    while (it.hasNext) {
      val f = it.next()
      if (f.equalsIgnoreCase(name)) return data.get(f)
    }
    null
  }

  /** Whether `from_json` reads a node of this JSON kind as `dt`: numeric
    * types take only in-range numbers and booleans only `true`/`false`,
    * so `"12"`, `"abc"`, `1.5` (for a long) and `"yes"` are null. Other
    * types take every kind; their parse decides. */
  private def accepts(n: JsonNode, dt: DataType): Boolean = dt match {
    case LongType => n.isIntegralNumber && n.canConvertToLong
    case IntegerType => n.isIntegralNumber && n.canConvertToInt
    case DoubleType => n.isNumber
    case BooleanType => n.isBoolean
    case _ => true
  }

  private def convert(data: JsonNode, extractedAt: Long): InternalRow = {
    val values = new Array[Any](required.length)
    var i = 0
    while (i < required.length) {
      val f = required(i)
      values(i) =
        if (f.name == ProtocolDataSource.ExtractedAt) extractedAt
        else {
          val n = fieldNode(data, f.name)
          if (n == null || n.isNull || !accepts(n, f.dataType)) null
          else f.dataType match {
            case StringType =>
              UTF8String.fromString(if (n.isValueNode) n.asText() else n.toString)
            case LongType => java.lang.Long.valueOf(n.longValue())
            case IntegerType => java.lang.Integer.valueOf(n.intValue())
            case DoubleType => java.lang.Double.valueOf(n.doubleValue())
            case BooleanType => java.lang.Boolean.valueOf(n.booleanValue())
            case d: DecimalType =>
              // NaN, ±Infinity and non-numeric text are null, as in from_json
              try org.apache.spark.sql.types.Decimal(
                new java.math.BigDecimal(n.asText()), d.precision, d.scale)
              catch { case _: NumberFormatException => null }
            case DateType =>
              java.lang.Integer.valueOf(
                java.time.LocalDate.parse(n.asText()).toEpochDay.toInt)
            case TimestampType =>
              java.lang.Long.valueOf(java.time.Instant.parse(n.asText())
                .toEpochMilli * 1000L)
            case _ => UTF8String.fromString(n.toString) // failover (§1.3)
          }
        }
      i += 1
    }
    InternalRow.fromSeq(values.toIndexedSeq)
  }
}
