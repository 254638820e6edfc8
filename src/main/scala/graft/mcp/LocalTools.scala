package graft.mcp

import scala.collection.immutable.ListMap
import scala.jdk.CollectionConverters._
import scala.util.{Failure, Success, Try}

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.{DataFrame, GraftBridge, SparkSession}
import org.apache.spark.sql.types._

import graft.errors.GraftInputError
import graft.cache.SparkCache
import graft.protocol.WriteStrategy
import graft.sources.{Destination, ReadResult, Secrets, Source}

/**
 * The local MCP tool surface (reference `airbyte/mcp/local.py:1-1011`)
 * as a Scala facade: every tool is a thin, typed delegation onto a
 * surface that already exists in this engine — the MCP server shell
 * (FastMCP wiring, `mcp/server.py`) is transport, not capability, and
 * is deliberately out of scope.
 *
 * | reference tool (local.py)        | here                           |
 * |----------------------------------|--------------------------------|
 * | validate_connector_config (:135) | validateConnectorConfig        |
 * | list_connector_config_secrets (:214) | listConnectorConfigSecrets |
 * | list_dotenv_secrets (:248)       | listDotenvSecrets              |
 * | list_source_streams (:269)       | listSourceStreams              |
 * | get_source_stream_json_schema (:336) | getSourceStreamJsonSchema  |
 * | read_source_stream_records (:403)| readSourceStreamRecords        |
 * | get_stream_previews (:494)       | getStreamPreviews              |
 * | sync_source_to_cache (:607)      | syncSourceToCache              |
 * | list_cached_streams (:717)       | listCachedStreams              |
 * | describe_default_cache (:739)    | describeDefaultCache           |
 * | run_sql_query (:794)             | runSqlQuery (read-only guard)  |
 * | destination_smoke_test (:852)    | destinationSmokeTest           |
 *
 * Trusted-machine tools carry a function-layer [[TrustedExecution]]
 * gate at the same call sites the reference guards (`local.py:82,226,
 * 254,719,741,818,968`): connector-config secret listing, dotenv
 * reads, local connector execution/sync, local-cache access
 * (list/describe/SQL), and the destination smoke tests. Pure
 * spec-rendering helpers (schema/validation) stay ungated, matching
 * the reference. The CLI ([[graft.tools.Cli]]) is the trusted local
 * entry point and calls the underlying capabilities directly — the
 * reference CLI likewise does not route through `_guards.py`.
 */
object LocalTools {

  private val mapper = new ObjectMapper()

  // ---- connector introspection ------------------------------------

  def listSourceStreams(source: Source): Seq[String] =
    source.catalog.streamNames

  /** Declared stream schema rendered back to JSON Schema (the MCP
    * answer shape). Inverse of the §1.3 type mapping; containers that
    * landed as JSON text report `object`/`array` faithfully. */
  def getSourceStreamJsonSchema(source: Source, stream: String): String = {
    val root = mapper.createObjectNode()
    root.put("type", "object")
    val props = root.putObject("properties")
    source.catalog(stream).schema.fields.foreach { f =>
      val p = props.putObject(f.name)
      f.dataType match {
        case LongType | IntegerType => p.put("type", "integer")
        case DoubleType | FloatType | _: DecimalType => p.put("type", "number")
        case BooleanType => p.put("type", "boolean")
        case DateType => p.put("type", "string"); p.put("format", "date")
        case TimestampType | TimestampNTZType =>
          p.put("type", "string"); p.put("format", "date-time")
        case ArrayType(FloatType, _) | ArrayType(DoubleType, _) =>
          p.put("type", "array")
          p.putObject("items").put("type", "number")
        case _: ArrayType => p.put("type", "array")
        case _: StructType | _: MapType => p.put("type", "object")
        case _ => p.put("type", "string")
      }
    }
    root.toString
  }

  /** First `limit` record payloads of one stream, as JSON text. */
  def readSourceStreamRecords(
      spark: SparkSession, source: Source, stream: String,
      limit: Int = 1000): Seq[String] =
    source.recordJsonl(spark, stream).limit(limit).collect().toSeq

  /** Per-stream samples with the reference's on_error="ignore"
    * semantics: a failing stream reports its error message instead of
    * failing the whole preview call. `streams = Nil` means all. */
  def getStreamPreviews(
      spark: SparkSession, source: Source,
      streams: Seq[String] = Nil, limit: Int = 10): Map[String, Either[String, Seq[String]]] = {
    val targets = if (streams.isEmpty) source.catalog.streamNames else streams
    targets.map { s =>
      s -> (Try(readSourceStreamRecords(spark, source, s, limit)) match {
        case Success(rows) => Right(rows)
        case Failure(e) => Left(s"Could not retrieve stream samples for '$s': ${e.getMessage}")
      })
    }.toMap
  }

  // ---- config validation / secrets --------------------------------

  /**
   * Validate a config document against a connector spec
   * (connection_specification JSON Schema): missing required keys and
   * primitive type mismatches. Empty result = valid. The reference
   * tool additionally round-trips through the connector's `check`;
   * callers with a live source do that via `source.check()`.
   */
  def validateConnectorConfig(specJson: String, configJson: String): Seq[String] = {
    val spec = mapper.readTree(specJson)
    // hydrate secret_reference:: values before validating — the
    // reference validates the HYDRATED config (_connector_base.py:128),
    // so a string-typed secret passed by reference type-checks against
    // its spec rather than failing as a reference marker
    val config = mapper.readTree(Secrets.hydrateSecrets(configJson))
    val problems = Seq.newBuilder[String]
    Option(spec.get("required")).toSeq
      .flatMap(_.elements().asScala).map(_.asText())
      .filterNot(config.has)
      .foreach(k => problems += s"missing required config key '$k'")
    Option(spec.get("properties")).foreach { props =>
      props.fields().asScala.foreach { e =>
        val declared = Option(e.getValue.get("type")).map(_.asText()).getOrElse("")
        Option(config.get(e.getKey)).foreach { v =>
          val ok = declared match {
            case "string" => v.isTextual
            case "integer" => v.isIntegralNumber
            case "number" => v.isNumber
            case "boolean" => v.isBoolean
            case "object" => v.isObject
            case "array" => v.isArray
            case _ => true
          }
          if (!ok) problems +=
            s"config key '${e.getKey}' should be $declared, got ${v.getNodeType.toString.toLowerCase(java.util.Locale.ROOT)}"
        }
      }
    }
    problems.result()
  }

  /**
   * Resolve a connector config from inline JSON, a config file, and/or
   * a server-side secret name (reference
   * `mcp/_arg_resolvers.py:resolve_connector_config`, :89-230):
   * file loads first, inline config overlays it, a `configSecretName`
   * resolves through the secret managers and deep-merges LAST (secrets
   * win). With a spec, hardcoded secrets in the merged inline/file
   * config are rejected — the recommended pattern is
   * `secret_reference::ENV_VAR_NAME`. Returns the resolved (but NOT
   * hydrated) config JSON; callers hydrate at the connector boundary.
   *
   * The trusted-machine inputs are gated by [[TrustedExecution]]
   * (`_arg_resolvers.py:119,165,188`): reading a local `configFile`,
   * resolving a server-side `configSecretName`, and hydrating inline
   * `secret_reference::` values each hard-fail when trusted execution
   * is disabled. An already-resolved inline `config` remains available
   * to untrusted callers (e.g. hosted cloud tools) — only the paths
   * that touch the server's filesystem or secret store are restricted.
   */
  def resolveConnectorConfig(
      config: Option[String] = None,
      configFile: Option[String] = None,
      configSecretName: Option[String] = None,
      configSpecJsonSchema: Option[String] = None): String = {
    if (config.isEmpty && configFile.isEmpty && configSecretName.isEmpty) return "{}"
    var doc = "{}"
    configFile.foreach { f =>
      TrustedExecution.requireTrusted(
        "Reading connector config from a local file (`configFile`)")
      val p = java.nio.file.Paths.get(f)
      if (!java.nio.file.Files.exists(p))
        throw new java.io.FileNotFoundException(s"Configuration file not found: $f")
      val text = new String(java.nio.file.Files.readAllBytes(p), "UTF-8")
      val node = try mapper.readTree(text) catch {
        case e: Exception =>
          throw new GraftInputError(s"Error reading configuration file $f: $e",
            guidance = Some("The file must contain a JSON object."),
            context = ListMap("config_file" -> f), cause = e)
      }
      if (node == null || !node.isObject)
        throw new GraftInputError(
          "Configuration file must contain a valid JSON object",
          context = ListMap("config_file" -> f))
      doc = Secrets.deepUpdate(doc, node.toString)
    }
    config.foreach { c =>
      val node = try mapper.readTree(c) catch {
        case e: Exception =>
          throw new GraftInputError(s"Invalid JSON in config parameter: $e",
            cause = e)
      }
      if (!node.isObject)
        throw new GraftInputError("Parsed JSON config must be an object")
      doc = Secrets.deepUpdate(doc, node.toString)
    }
    if (Secrets.containsSecretReference(mapper.readTree(doc)))
      TrustedExecution.requireTrusted(
        "Resolving inline secret references (`secret_reference::`) in connector config")
    configSpecJsonSchema.foreach { spec =>
      val hardcoded = Secrets.detectHardcodedSecrets(doc, Some(spec))
      if (hardcoded.nonEmpty)
        throw new GraftInputError(
          "Configuration contains hardcoded secrets in fields: " +
            hardcoded.map(_.mkString(".")).mkString(", ") + ".",
          guidance = Some("Please use environment variables instead: set " +
            "the value to `secret_reference::ENV_VAR_NAME`."),
          context = ListMap(
            "fields" -> hardcoded.map(_.mkString(".")).mkString(", ")))
    }
    configSecretName.foreach { secretName =>
      TrustedExecution.requireTrusted(
        "Resolving connector config from a server-side secret (`configSecretName`)")
      val secret = Secrets.getSecret(secretName).getOrElse(
        throw new Secrets.SecretNotFoundException(secretName))
      val node = try mapper.readTree(secret.unwrap) catch {
        case _: Exception => null
      }
      if (node == null || !node.isObject)
        throw new GraftInputError(
          s"Secret '$secretName' must contain a valid JSON object",
          context = ListMap("secret_name" -> secretName))
      doc = Secrets.deepUpdate(doc, node.toString)
    }
    doc
  }

  /** Property names marked `airbyte_secret: true` in the spec —
    * which config keys should come from a secret manager. Enumerating
    * the server's secret surface is a trusted-machine capability
    * (`local.py:226-228`). */
  def listConnectorConfigSecrets(specJson: String): Seq[String] = {
    TrustedExecution.requireTrusted(
      "Listing connector config secrets (`list_connector_config_secrets`)")
    val spec = mapper.readTree(specJson)
    Option(spec.get("properties")).toSeq.flatMap { props =>
      props.fields().asScala
        .filter(e => Option(e.getValue.get("airbyte_secret")).exists(_.asBoolean(false)))
        .map(_.getKey).toSeq
    }.sorted
  }

  /** Dotenv file → declared variable NAMES (values never returned).
    * Reads the server's local filesystem, so gated (`local.py:254`). */
  def listDotenvSecrets(dotenvPaths: Seq[String] = Seq(".env")): Map[String, Seq[String]] = {
    TrustedExecution.requireTrusted(
      "Listing dotenv secret names (`list_dotenv_secrets`)")
    dotenvPaths.map { p =>
      p -> new Secrets.DotenvSecretManager(p).listSecretNames
    }.toMap
  }

  // ---- cache ------------------------------------------------------

  /** Local connector execution + local cache write — gated like the
    * reference's `_get_mcp_source` path (`local.py:82`). */
  def syncSourceToCache(
      cache: SparkCache, spark: SparkSession, source: Source,
      streams: Seq[String] = Nil,
      strategy: WriteStrategy = WriteStrategy.Auto): ReadResult = {
    TrustedExecution.requireTrusted(
      "Local connector execution (`sync_source_to_cache`)")
    source.read(cache, spark, streams, strategy)
  }

  final case class CachedStreamInfo(streamName: String, tableName: String)

  def listCachedStreams(cache: SparkCache): Seq[CachedStreamInfo] = {
    TrustedExecution.requireTrusted(
      "Reading the local default cache (`list_cached_streams`)")
    cache.streams.sorted.map(s => CachedStreamInfo(s, cache.tableName(s)))
  }

  def describeDefaultCache(cache: SparkCache): Map[String, String] = {
    TrustedExecution.requireTrusted(
      "Describing the local default cache (`describe_default_cache`)")
    Map(
      "cache_type" -> "spark",
      "database" -> cache.database,
      "stream_count" -> cache.streams.size.toString)
  }

  /** Read-only SQL over the cache — delegates to the guard
    * (reference `run_sql_query` + `_is_safe_sql`, local.py:753-846;
    * gate at :818). */
  def runSqlQuery(cache: SparkCache, sql: String,
      maxRecords: Option[Int] = Some(1000)): DataFrame = {
    TrustedExecution.requireTrusted(
      "Querying the local default cache (`run_sql_query`)")
    cache.runSqlQuery(sql, maxRecords)
  }

  /** Round-trip a cached stream through a destination process
    * speaking the protocol on stdin; returns records delivered.
    * Spawns a local process, so gated (`local.py:968`). */
  def destinationSmokeTest(
      cache: SparkCache, streamName: String, cmd: Seq[String],
      sourceName: String = "default"): Long = {
    TrustedExecution.requireTrusted(
      "Destination smoke test (`destination_smoke_test`)")
    Destination.writeToProcess(cache, streamName, sourceName, cmd)
  }

  /** The reference MCP `destination_smoke_test` proper (local.py:852 →
    * `_util/destination_smoke_tests.run_destination_smoke_test`): send
    * the scripted scenario suite at a destination and return the
    * structured result with readback statistics. The destination is
    * the engine's Spark cache under a generated `zz_deleteme_…`
    * namespace. */
  def runDestinationSmokeTest(
      spark: SparkSession,
      scenarios: String = "fast",
      namespaceSuffix: Option[String] = None,
      reuseNamespace: Option[String] = None,
      skipPreflight: Boolean = false): graft.sources.SmokeTest.Result = {
    TrustedExecution.requireTrusted(
      "Destination smoke test (`destination_smoke_test`)")
    graft.sources.SmokeTest.run(spark, scenarios, namespaceSuffix,
      reuseNamespace, skipPreflight = skipPreflight)
  }

  /** Subprocess-destination variant: pump the smoke source's FULL
    * protocol stream (traces + records) into a destination command's
    * stdin — the shape a real `destination write` receives. Returns
    * RECORD messages delivered. */
  def smokeTestToProcess(
      spark: SparkSession, cmd: Seq[String],
      scenarios: String = "fast"): Long = {
    TrustedExecution.requireTrusted(
      "Destination smoke test (`destination_smoke_test`)")
    val source = graft.sources.SmokeTestSource.forScenarios(scenarios)
    val pb = new ProcessBuilder(cmd: _*)
    pb.redirectErrorStream(true)
    val proc = pb.start()
    graft.sources.Destination.drainInBackground(proc)
    val out = new java.io.PrintWriter(proc.getOutputStream, false)
    var records = 0L
    try {
      GraftBridge.localIterator(source.protocolJsonl(spark))
        .foreach { line =>
          out.println(line)
          if (line.startsWith("""{"type":"RECORD"""")) records += 1
        }
      out.flush()
    } finally {
      out.close()
      proc.waitFor()
    }
    records
  }
}
