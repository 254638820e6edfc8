package graft.protocol

import com.fasterxml.jackson.core.{JsonFactoryBuilder, JsonParser, JsonProcessingException, JsonToken}
import com.fasterxml.jackson.core.json.JsonReadFeature
import com.fasterxml.jackson.databind.{DeserializationFeature, ObjectMapper}
import com.fasterxml.jackson.databind.node.JsonNodeFactory
import org.apache.spark.sql.types.StructType

import graft.names.NameNormalizer
import graft.types.JsonSchemaConverter

/**
 * The connector wire protocol and configured-catalog model, re-expressed
 * as Scala case classes.
 *
 * Reference: PyAirbyte wraps `airbyte_protocol` models — message loop
 * `airbyte/shared/sql_processor.py:305-378`, catalog provider
 * `airbyte/shared/catalog_providers.py:31-226`, write-strategy resolution
 * `airbyte/shared/catalog_providers.py:183-208` and
 * `airbyte/strategies.py:18-92`.
 *
 * Messages travel as JSON lines (connector stdout). We parse with Spark's
 * bundled jackson; record payloads stay as raw JSON text so executors can
 * parse them vectorized via `from_json` with the declared schema instead of
 * driver-side dict munging.
 */
object MessageType extends Enumeration {
  val RECORD, STATE, TRACE, CATALOG, SPEC, LOG, CONNECTION_STATUS, CONTROL = Value
}

/** One protocol message. `raw` keeps the original line for passthrough. */
final case class AirbyteMessage(
    messageType: MessageType.Value,
    streamName: Option[String],
    /** For RECORD: the `data` payload as JSON text. */
    dataJson: Option[String],
    /** For RECORD: emitted_at epoch millis. */
    emittedAt: Option[Long],
    /** For STATE: the whole state message as JSON text. */
    stateJson: Option[String],
    /** For TRACE: stream status (STARTED/RUNNING/COMPLETE/...). */
    streamStatus: Option[String],
    raw: String)

object AirbyteMessage {
  /** Reads JSON floats as exact BigDecimals, so a payload number keeps
    * every digit through `dataJson` (a DECIMAL(38,2) value past double
    * precision would otherwise come back rounded). */
  private[graft] val mapper: ObjectMapper = new ObjectMapper()
    .setNodeFactory(JsonNodeFactory.withExactBigDecimals(true))
    .enable(DeserializationFeature.USE_BIG_DECIMAL_FOR_FLOATS)

  /** Parse one JSONL protocol line. Unknown/garbage lines → None. */
  def parse(line: String): Option[AirbyteMessage] = {
    if (line == null || line.isEmpty || line.charAt(0) != '{') return None
    try {
      val n = mapper.readTree(line)
      val t = Option(n.get("type")).map(_.asText()).getOrElse(return None)
      val mt =
        try MessageType.withName(t)
        catch { case _: NoSuchElementException => return None }
      mt match {
        case MessageType.RECORD =>
          val rec = n.get("record")
          Some(AirbyteMessage(mt,
            streamName = Option(rec.get("stream")).map(_.asText()),
            dataJson = Option(rec.get("data")).map(_.toString),
            emittedAt = Option(rec.get("emitted_at")).map(_.asLong()),
            stateJson = None, streamStatus = None, raw = line))
        case MessageType.STATE =>
          val st = n.get("state")
          val sName = Option(st.get("stream"))
            .flatMap(s => Option(s.get("stream_descriptor")))
            .flatMap(d => Option(d.get("name"))).map(_.asText())
          Some(AirbyteMessage(mt, sName, None, None,
            stateJson = Some(st.toString), streamStatus = None, raw = line))
        case MessageType.TRACE =>
          val status = Option(n.get("trace"))
            .flatMap(tr => Option(tr.get("stream_status")))
          val sName = status.flatMap(s => Option(s.get("stream_descriptor")))
            .flatMap(d => Option(d.get("name"))).map(_.asText())
          val st = status.flatMap(s => Option(s.get("status"))).map(_.asText())
          Some(AirbyteMessage(mt, sName, None, None, None, st, line))
        case _ =>
          Some(AirbyteMessage(mt, None, None, None, None, None, line))
      }
    } catch { case _: Exception => None }
  }

  /** For LOG messages: the `log.message` text (reference
    * `_connector_base.py:407-409` — logged to the connector's file
    * logger at info). None for any other message. */
  def logMessage(m: AirbyteMessage): Option[String] = {
    if (m.messageType != MessageType.LOG) return None
    try Option(mapper.readTree(m.raw).get("log"))
      .flatMap(l => Option(l.get("message"))).map(_.asText())
    catch { case _: Exception => None }
  }

  /** For TRACE messages of type ERROR: the `trace.error.message` text
    * (reference `_connector_base.py:410-424` — logged to the file
    * logger at error). None for any other message. */
  def traceErrorMessage(m: AirbyteMessage): Option[String] = {
    if (m.messageType != MessageType.TRACE) return None
    try {
      val tr = Option(mapper.readTree(m.raw).get("trace")).getOrElse(return None)
      if (!Option(tr.get("type")).exists(_.asText() == "ERROR")) return None
      Option(tr.get("error")).flatMap(e => Option(e.get("message"))).map(_.asText())
        .orElse(Some("(no error message)"))
    } catch { case _: Exception => None }
  }

  /** The `type` of a STATE message body (STREAM/GLOBAL/LEGACY);
    * None when absent — the protocol treats typeless state as LEGACY. */
  def stateType(stateJson: String): Option[String] =
    try Option(mapper.readTree(stateJson).get("type")).map(_.asText())
    catch { case _: Exception => None }

  /** For CONTROL messages of orchestrator type CONNECTOR_CONFIG: the
    * updated connector config as JSON text (reference
    * `_connector_base.py:426-434` — the payload handed to
    * `config_change_callback`, e.g. a refreshed OAuth token). None for
    * any other message. */
  def connectorConfig(m: AirbyteMessage): Option[String] = {
    if (m.messageType != MessageType.CONTROL) return None
    try {
      val ctl = Option(mapper.readTree(m.raw).get("control")).getOrElse(return None)
      if (!Option(ctl.get("type")).exists(_.asText() == "CONNECTOR_CONFIG")) return None
      Option(ctl.get("connectorConfig")).flatMap(cc => Option(cc.get("config")))
        .map(_.toString)
    } catch { case _: Exception => None }
  }
}

/** The RECORD envelope of one protocol line: its stream, the `data`
  * object as the exact text of the line (null when `data` is missing or
  * not an object) and `emitted_at` in epoch millis. */
final case class RecordEnvelope(stream: String, data: String, emittedAt: Option[Long])

object RecordEnvelope {
  /** The features Spark's JSON reader enables by default, so a line the
    * typed `from_json` reader accepts also splits here. */
  private val factory = new JsonFactoryBuilder()
    .enable(JsonReadFeature.ALLOW_SINGLE_QUOTES, JsonReadFeature.ALLOW_NON_NUMERIC_NUMBERS)
    .build()

  /**
   * Split one protocol line with Jackson streaming, in one pass and
   * without building a tree: `type`, `record.stream` and
   * `record.emitted_at` are read, and `data` is skipped over and sliced
   * from the line by char offsets, so its numbers keep every digit.
   * Field names match exactly and the last duplicate wins, as in Spark's
   * JSON reader. A non-RECORD line, a RECORD without a stream, and a
   * line that is not valid JSON give None.
   */
  def split(line: String): Option[RecordEnvelope] = {
    val p = factory.createParser(line)
    try {
      if (p.nextToken() != JsonToken.START_OBJECT) return None
      var isRecord = false
      var record: RecordEnvelope = null
      while (p.nextToken() == JsonToken.FIELD_NAME) {
        val key = p.currentName()
        val token = p.nextToken()
        key match {
          case "type" => isRecord = token == JsonToken.VALUE_STRING && p.getText == "RECORD"
          case "record" => record = if (token == JsonToken.START_OBJECT) readRecord(p, line) else null
          case _ =>
        }
        p.skipChildren()
      }
      if (isRecord && record != null && record.stream != null) Some(record) else None
    } catch { case _: JsonProcessingException => None }
    finally p.close()
  }

  /** The fields of a `record` object; the parser is left on its END_OBJECT. */
  private def readRecord(p: JsonParser, line: String): RecordEnvelope = {
    var stream: String = null
    var data: String = null
    var emittedAt: Option[Long] = None
    while (p.nextToken() == JsonToken.FIELD_NAME) {
      val key = p.currentName()
      val token = p.nextToken()
      key match {
        case "stream" => stream = if (token.isScalarValue && token != JsonToken.VALUE_NULL) p.getText else null
        case "data" if token == JsonToken.START_OBJECT =>
          val from = p.currentTokenLocation().getCharOffset.toInt
          p.skipChildren()
          data = line.substring(from, p.currentTokenLocation().getCharOffset.toInt + 1)
        case "data" => data = null
        case "emitted_at" => emittedAt =
          if (token == JsonToken.VALUE_NUMBER_INT &&
              p.getNumberType != JsonParser.NumberType.BIG_INTEGER) Some(p.getLongValue)
          else None
        case _ =>
      }
      p.skipChildren()
    }
    RecordEnvelope(stream, data, emittedAt)
  }
}

/** Sync modes (subset relevant to the engine). */
object SyncMode extends Enumeration {
  val FullRefresh = Value("full_refresh")
  val Incremental = Value("incremental")
}

/**
 * Write strategies (reference `airbyte/strategies.py:18-92`).
 * AUTO resolves per stream: PK ⇒ merge; else cursor ⇒ append; else replace.
 */
sealed trait WriteStrategy
object WriteStrategy {
  case object Append extends WriteStrategy
  case object Replace extends WriteStrategy
  case object Merge extends WriteStrategy

  /** Merge that also propagates CDC hard deletes: a key whose latest
    * version (by cursor) carries a non-null deleted-at marker is
    * REMOVED from the final table. Beyond the reference's enum —
    * PyAirbyte's merge keeps CDC tombstone rows as data — but the
    * natural strategy for Debezium-style feeds (`_ab_cdc_deleted_at`). */
  case object CdcDelete extends WriteStrategy
  case object Auto extends WriteStrategy

  def fromString(s: String): WriteStrategy = s.toLowerCase(java.util.Locale.ROOT) match {
    case "append"  => Append
    case "replace" => Replace
    case "merge"   => Merge
    case "cdc_delete" | "cdcdelete" => CdcDelete
    case "auto"    => Auto
    case other => throw new IllegalArgumentException(s"Unknown write strategy: $other")
  }
}

/** One configured stream: schema + sync config. */
final case class ConfiguredStream(
    name: String,
    /** Declared schema (already converted; names normalized). */
    schema: StructType,
    /** Normalized primary-key column names (top-level only). */
    primaryKeys: Seq[String] = Seq.empty,
    cursorField: Option[String] = None,
    syncMode: SyncMode.Value = SyncMode.FullRefresh,
    /** CDC delete-marker column (e.g. `_ab_cdc_deleted_at`); when set,
      * AUTO resolves to [[WriteStrategy.CdcDelete]] for PK streams. */
    cdcDeletedAtField: Option[String] = None,
    /** Schema with the connector's ORIGINAL (wire-case) field names —
      * what `from_json` must parse with, since its key matching is
      * case-sensitive; `schema` keeps the normalized names every
      * downstream surface uses. Absent when the declared names were
      * already normalized (hand-built catalogs). */
    wireSchema: Option[StructType] = None) {

  /** The schema record payloads should be PARSED with. */
  def parseSchema: StructType = wireSchema.getOrElse(schema)
}

/**
 * Catalog of configured streams + resolution logic.
 * Mirrors `CatalogProvider` (`airbyte/shared/catalog_providers.py`).
 */
final case class ConfiguredCatalog(streams: Seq[ConfiguredStream]) {
  private val byName: Map[String, ConfiguredStream] =
    streams.map(s => s.name.toLowerCase(java.util.Locale.ROOT) -> s).toMap

  def streamNames: Seq[String] = streams.map(_.name)

  def apply(streamName: String): ConfiguredStream =
    byName.getOrElse(streamName.toLowerCase(java.util.Locale.ROOT),
      throw new NoSuchElementException(s"Stream not found: $streamName"))

  /**
   * Normalized, validated primary keys for a stream. Nested (MULTI-NODE
   * path) PKs are rejected (reference `catalog_providers.py:146-172` —
   * `len(pk_nodes) != 1`); a SINGLE node whose field name contains a
   * literal '.' (the GAds shape the reference's source-test fixture
   * pins: `["table1.Column1"]`) is a flat column and normalizes like
   * any other name. Multi-node paths are encoded with a NUL separator
   * by the catalog parser, which no real field name contains.
   */
  def primaryKeys(streamName: String): Seq[String] =
    apply(streamName).primaryKeys.map { pk =>
      if (pk.contains("\u0000")) throw new IllegalArgumentException(
        s"Nested primary keys are not supported: ${pk.replace('\u0000', '.')}")
      NameNormalizer.normalize(pk)
    }

  /**
   * Resolve the effective write method for a stream
   * (reference `resolve_write_method`, `catalog_providers.py:183-208`):
   *  - explicit MERGE without a PK is an error
   *  - AUTO: PK ⇒ merge; else cursor ⇒ append; else replace.
   */
  def resolveWriteMethod(streamName: String, strategy: WriteStrategy): WriteStrategy = {
    val s = apply(streamName)
    strategy match {
      case WriteStrategy.Merge if s.primaryKeys.isEmpty =>
        throw new IllegalArgumentException(
          s"Merge strategy requires a primary key for stream $streamName")
      case WriteStrategy.CdcDelete if s.primaryKeys.isEmpty =>
        throw new IllegalArgumentException(
          s"CDC-delete strategy requires a primary key for stream $streamName")
      case WriteStrategy.Auto =>
        if (s.primaryKeys.nonEmpty)
          if (s.cdcDeletedAtField.nonEmpty) WriteStrategy.CdcDelete
          else WriteStrategy.Merge
        else if (s.cursorField.nonEmpty) WriteStrategy.Append
        else WriteStrategy.Replace
      case explicit => explicit
    }
  }
}

object ConfiguredCatalog {

  /**
   * Build from an Airbyte `discover` catalog JSON document:
   * `{"streams":[{"name":..., "json_schema":{...},
   *   "source_defined_primary_key":[["id"]], "default_cursor_field":[...]}]}`
   */
  def fromCatalogJson(json: String): ConfiguredCatalog = {
    import scala.jdk.CollectionConverters._
    val mapper = new ObjectMapper()
    val root = mapper.readTree(json)
    val streams = Option(root.get("streams")).toSeq
      .flatMap(_.elements().asScala)
      .map { s =>
        val name = s.get("name").asText()
        val schema = Option(s.get("json_schema"))
          .map(js => JsonSchemaConverter.schemaJsonToStructType(js.toString))
          .getOrElse(new StructType())
        // wire-case twin for from_json (case-sensitive key matching)
        val wire = Option(s.get("json_schema"))
          .map(js => JsonSchemaConverter.schemaJsonToStructType(
            js.toString, normalizeNames = false))
        val pks: Seq[String] = Option(s.get("source_defined_primary_key")).toSeq
          .flatMap(_.elements().asScala)
          .flatMap { path =>
            val parts = path.elements().asScala.map(_.asText()).toSeq
            // single node = flat column (even with a literal '.' in the
            // name — the GAds shape); multi-node = genuinely nested,
            // encoded with NUL so primaryKeys() can reject it
            if (parts.size == 1) Some(parts.head)
            else Some(parts.mkString("\u0000"))
          }
        val cursor = Option(s.get("default_cursor_field"))
          .flatMap(_.elements().asScala.toSeq.headOption).map(_.asText())
        // CDC sources declare the Debezium-convention delete marker in
        // their discovered schema; detecting it here lets AUTO resolve
        // to the hard-delete merge without per-stream configuration
        val cdcDeleted = schema.fieldNames
          .find(_.equalsIgnoreCase("_ab_cdc_deleted_at"))
        ConfiguredStream(NameNormalizer.normalize(name), schema, pks, cursor,
          cdcDeletedAtField = cdcDeleted, wireSchema = wire)
      }
    ConfiguredCatalog(streams)
  }
}
