package graft

import java.nio.file.{Files, Paths}
import java.time.{Instant, LocalDate}
import java.util.zip.GZIPOutputStream

import org.apache.spark.sql.{DataFrame, Encoders}
import org.apache.spark.sql.functions._

import graft.operators.Records
import graft.protocol.ConfiguredCatalog

/** DataSourceV2 protocol source: declared schema, null-fill/prune,
  * pruned JSON parsing, per-file partitions, gzip spill files. */
class V2SourceSpec extends SparkTestBase {

  private val fmt = "graft.sources.v2.ProtocolDataSource"

  private val catalogJson =
    """{"streams":[
      |  {"name":"Users","json_schema":{"properties":{
      |     "id":{"type":"integer"},"name":{"type":"string"},
      |     "score":{"type":"number"},"active":{"type":"boolean"},
      |     "tags":{"type":"array"}}},
      |   "source_defined_primary_key":[["id"]]}
      |]}""".stripMargin

  private def rec(stream: String, data: String, at: Long) =
    s"""{"type":"RECORD","record":{"stream":"$stream","data":$data,"emitted_at":$at}}"""

  private def writeLines(path: String, lines: Seq[String], gzip: Boolean = false): Unit = {
    val p = Paths.get(path)
    Files.createDirectories(p.getParent)
    if (gzip) {
      val out = new GZIPOutputStream(Files.newOutputStream(p))
      out.write(lines.mkString("\n").getBytes("UTF-8")); out.close()
    } else Files.write(p, lines.mkString("\n").getBytes("UTF-8"))
  }

  test("declared schema drives projection: null-fill, prune, types, metadata ts") {
    val dir = Files.createTempDirectory("graft-v2").toString
    writeLines(s"$dir/b1.jsonl", Seq(
      rec("users", """{"id":1,"name":"ann","score":1.5,"active":true,"tags":[1,2]}""", 1700000000000L),
      rec("users", """{"id":2,"extra_col":"dropped"}""", 1700000001000L),
      rec("other", """{"id":99}""", 1700000002000L), // different stream
      """{"type":"STATE","state":{"type":"STREAM"}}""",
      "not json at all"))
    val df = spark.read.format(fmt)
      .option("catalogJson", catalogJson).option("stream", "users")
      .load(s"$dir/b1.jsonl")
    assert(df.schema.fieldNames.toSeq ==
      Seq("id", "name", "score", "active", "tags", "_airbyte_extracted_at"))
    val rows = df.orderBy("id").collect()
    assert(rows.length == 2)
    // declared field pickup, untyped array → JSON text
    assert(rows(0).getAs[String]("name") == "ann")
    assert(rows(0).getAs[String]("tags") == "[1,2]")
    assert(rows(0).getAs[Boolean]("active"))
    // null-fill for missing declared fields; undeclared pruned
    assert(rows(1).isNullAt(rows(1).fieldIndex("name")))
    assert(!df.columns.contains("extra_col"))
    // extracted_at = emitted_at millis
    assert(rows(0).getAs[java.sql.Timestamp]("_airbyte_extracted_at").getTime
      == 1700000000000L)
  }

  test("one partition per file; gzip files decode; pruned read works") {
    val dir = Files.createTempDirectory("graft-v2").toString
    writeLines(s"$dir/p1.jsonl", (1 to 5).map(i => rec("users", s"""{"id":$i}""", i)))
    writeLines(s"$dir/p2.jsonl.gz", (6 to 9).map(i => rec("users", s"""{"id":$i}""", i)), gzip = true)
    val df = spark.read.format(fmt)
      .option("catalogJson", catalogJson).option("stream", "users")
      .load(dir)
    assert(df.rdd.getNumPartitions == 2) // one per staged file
    assert(df.count() == 9)
    // column pruning pushes into the reader (scan reads only `id`)
    val ids = df.select(col("id")).as[Long](org.apache.spark.sql.Encoders.scalaLong)
    assert(ids.collect().sorted.toSeq == (1L to 9L))
    val scanLine = ids.queryExecution.executedPlan.toString
      .linesIterator.find(_.contains("graft protocol scan")).getOrElse("")
    assert(scanLine.contains("readSchema=id"), s"not pruned: $scanLine")
  }

  test("comparison filters push into the reader (cursor-incremental shape)") {
    val dir = Files.createTempDirectory("graft-v2").toString
    writeLines(s"$dir/c1.jsonl",
      (1 to 10).map(i => rec("users", s"""{"id":$i,"name":"u$i"}""", i)) :+
        rec("users", """{"name":"no_id"}""", 11)) // null cursor → filtered
    val df = spark.read.format(fmt)
      .option("catalogJson", catalogJson).option("stream", "users")
      .load(s"$dir/c1.jsonl")
      .filter(col("id") > 7 && col("name") =!= "u9")
    assert(df.select("id").collect().map(_.getLong(0)).sorted.toSeq == Seq(8L, 10L))
    val scanLine = df.queryExecution.executedPlan.toString
      .linesIterator.find(_.contains("graft protocol scan")).getOrElse("")
    assert(scanLine.contains("pushedFilters=[") &&
      scanLine.contains("GreaterThan(id,7)"), s"not pushed: $scanLine")
  }

  test("filter on _airbyte_extracted_at keeps rows (envelope-resolved IsNotNull)") {
    // Regression: Spark auto-infers IsNotNull(_airbyte_extracted_at) for any
    // comparison on it; the reader must resolve that against the envelope's
    // emitted_at (the column is never in the data payload), or every row is
    // silently dropped at the scan.
    val dir = Files.createTempDirectory("graft-v2").toString
    writeLines(s"$dir/e1.jsonl",
      (1 to 5).map(i => rec("users", s"""{"id":$i}""", 1700000000000L + i * 1000L)))
    val df = spark.read.format(fmt)
      .option("catalogJson", catalogJson).option("stream", "users")
      .load(s"$dir/e1.jsonl")
      .filter(col("_airbyte_extracted_at") >=
        java.sql.Timestamp.valueOf("2023-11-14 00:00:00"))
    assert(df.count() == 5, "extracted_at filter must not drop valid rows at the reader")
    // explicit IsNotNull / IsNull on the metadata column also behave
    assert(df.filter(col("_airbyte_extracted_at").isNotNull).count() == 5)
    assert(df.filter(col("_airbyte_extracted_at").isNull).count() == 0)
  }

  /** The parity table's catalog: the shared columns, with `tags` a typed
    * array, plus a date, a date-time and a wire name that normalizes to
    * another column name (`Joined At` → `joined_at`). */
  private val parityCatalog =
    """{"streams":[
      |  {"name":"Users","json_schema":{"properties":{
      |     "id":{"type":"integer"},"name":{"type":"string"},
      |     "score":{"type":"number"},"active":{"type":"boolean"},
      |     "tags":{"type":"array","items":{"type":"integer"}},
      |     "d":{"type":"string","format":"date"},
      |     "ts":{"type":"string","format":"date-time"},
      |     "Joined At":{"type":"string"}}},
      |   "source_defined_primary_key":[["id"]]}
      |]}""".stripMargin

  private val parityCols =
    Seq("id", "name", "score", "active", "tags", "d", "ts", "joined_at", "_airbyte_extracted_at")

  /** The scan's own now(), which both readers stamp as
    * `_airbyte_extracted_at` when `emitted_at` is absent or not whole. */
  private case object Now

  /** One protocol line, the session time zone it is read under, and the
    * row both readers must give for it: a column absent from `row` is
    * null. */
  private case class Parity(name: String, line: String, row: Map[String, Any],
      tz: String = "UTC")

  private val emittedAt = 1700000000000L

  /** A case whose line carries `payload` as `data`, emitted at `emittedAt`. */
  private def data(name: String, payload: String, row: (String, Any)*): Parity =
    Parity(name, rec("users", payload, emittedAt),
      row.toMap + ("_airbyte_extracted_at" -> Instant.ofEpochMilli(emittedAt)))

  private def dec(s: String) = new java.math.BigDecimal(s)

  /** Values of a wrong JSON kind, recorded from `Records.normalizeProtocol`
    * (`from_json`); the pushdown test reads these lines too. */
  private val wrongKind = Seq(
    data("a quoted int is null", """{"id":"12","name":"quoted int"}""", "name" -> "quoted int"),
    data("a text int is null", """{"id":"abc","name":"text int"}""", "name" -> "text int"),
    data("a text boolean is null", """{"id":3,"active":"yes"}""", "id" -> 3L),
    data("a quoted boolean is null", """{"id":4,"active":"true"}""", "id" -> 4L),
    data("a numeric boolean is null", """{"id":5,"active":1}""", "id" -> 5L),
    data("a quoted number reads as a decimal", """{"id":6,"score":"2.5"}""",
      "id" -> 6L, "score" -> dec("2.500000000")),
    data("a text decimal is null", """{"id":7,"score":"abc"}""", "id" -> 7L),
    data("a fractional int is null", """{"id":8.0,"name":"fractional int"}""",
      "name" -> "fractional int"),
    data("an overflowing int is null", """{"id":99999999999999999999,"name":"overflow"}""",
      "name" -> "overflow"),
    data("a number reads as string text; a boolean decimal is null",
      """{"id":10,"name":12,"score":true}""", "id" -> 10L, "name" -> "12"))

  private val parity: Seq[Parity] = Seq(
    Parity("a quoted emitted_at gives now()",
      """{"type":"RECORD","record":{"stream":"users","data":{"id":2},"emitted_at":"1700000000000"}}""",
      Map("id" -> 2L, "_airbyte_extracted_at" -> Now)),
    Parity("a fractional emitted_at gives now()",
      """{"type":"RECORD","record":{"stream":"users","data":{"id":3},"emitted_at":1.7E12}}""",
      Map("id" -> 3L, "_airbyte_extracted_at" -> Now)),
    Parity("an absent emitted_at gives now()",
      """{"type":"RECORD","record":{"stream":"users","data":{"id":4}}}""",
      Map("id" -> 4L, "_airbyte_extracted_at" -> Now)),
    Parity("a non-object data is a row of nulls with its own emitted_at",
      """{"type":"RECORD","record":{"stream":"users","data":[4,5],"emitted_at":5}}""",
      Map("_airbyte_extracted_at" -> Instant.ofEpochMilli(5L))),
    data("single-quoted keys and strings", """{'id':1,'name':'ann'}""",
      "id" -> 1L, "name" -> "ann"),
    data("NaN is a null decimal", """{"id":2,"score":NaN}""", "id" -> 2L),
    data("-Infinity is a null decimal", """{"id":3,"name":'bo',"score":-Infinity}""",
      "id" -> 3L, "name" -> "bo"),
    data("a finite number is a DECIMAL(38,9)", """{"id":4,"score":2.5}""",
      "id" -> 4L, "score" -> dec("2.500000000")),
    data("a key matches its declared name exactly", """{"id":1,"NAME":"ann"}""", "id" -> 1L),
    data("the last of duplicate keys wins", """{"id":1,"id":9}""", "id" -> 9L),
    data("a key matches its wire name and reads as the normalized column",
      """{"Joined At":"2024"}""", "joined_at" -> "2024"),
    data("a nested object reads as its JSON text", """{"id":1,"name":{"a":[1,2]}}""",
      "id" -> 1L, "name" -> """{"a":[1,2]}"""),
    data("a typed array", """{"tags":[1,2]}""", "tags" -> Seq(1L, 2L)),
    data("a date", """{"d":"2024-01-02"}""", "d" -> LocalDate.parse("2024-01-02")),
    data("a malformed date is null", """{"d":"not a date"}"""),
    data("a malformed date-time is null", """{"ts":"yesterday"}"""),
    data("a date-time keeps its microseconds", """{"ts":"2024-01-02T03:04:05.123456Z"}""",
      "ts" -> Instant.parse("2024-01-02T03:04:05.123456Z")),
    data("a zoneless date-time reads in the session time zone",
      """{"ts":"2024-01-02T03:04:05"}""", "ts" -> Instant.parse("2024-01-02T11:04:05Z"))
      .copy(tz = "America/Los_Angeles")
  ) ++ wrongKind

  /** `lines` through both readers with the parity catalog:
    * `Records.normalizeProtocol` (the `JsonlSource` path) and the v2 scan. */
  private def readBoth(lines: Seq[String]): Seq[DataFrame] = {
    val dir = Files.createTempDirectory("graft-v2").toString
    writeLines(s"$dir/p.jsonl", lines)
    val declared = ConfiguredCatalog.fromCatalogJson(parityCatalog)("users").parseSchema
    Seq(
      Records.normalizeProtocol(spark.createDataset(lines)(Encoders.STRING), "users", declared),
      spark.read.format(fmt).option("catalogJson", parityCatalog).option("stream", "users")
        .load(s"$dir/p.jsonl"))
  }

  private def withSessionTz[T](tz: String)(body: => T): T = {
    val key = "spark.sql.session.timeZone"
    val saved = spark.conf.get(key)
    spark.conf.set(key, tz)
    try body finally spark.conf.set(key, saved)
  }

  parity.foreach { c =>
    test(s"both readers: ${c.name}") {
      withSessionTz(c.tz) {
        val t0 = System.currentTimeMillis()
        val read = readBoth(Seq(c.line)).map(_.select(parityCols.map(col): _*).collect())
        val t1 = System.currentTimeMillis()
        def value(v: Any): Any = v match {
          case t: java.sql.Timestamp =>
            if (t.getTime >= t0 && t.getTime <= t1) Now else t.toInstant
          case d: java.sql.Date => d.toLocalDate
          case v => v
        }
        val expected = Seq(parityCols.map(c.row.getOrElse(_, null)))
        for (rows <- read) assert(rows.toSeq.map(_.toSeq.map(value)) == expected)
      }
    }
  }

  private def scanLine(df: DataFrame): String =
    df.queryExecution.executedPlan.toString
      .linesIterator.find(_.contains("graft protocol scan")).getOrElse("")

  test("a value of the wrong JSON kind reads null, as on the JsonlSource path") {
    // the filters the v2 reader drops rows with see the nulls the rows carry
    val Seq(jsonl, v2) = readBoth(wrongKind.map(_.line))
    for (f <- Seq(col("id") > 7, col("id").isNull, col("id").isin(3, 12)))
      assert(v2.filter(f).count() == jsonl.filter(f).count(), f)
    assert(v2.filter(col("id") > 7).count() == 1)
    assert(v2.filter(col("id").isNull).count() == 4)
    assert(v2.filter(col("id").isin(3, 12)).count() == 1)
    for ((f, shown) <- Seq((col("id") > 7, "GreaterThan(id,7)"), (col("id").isin(3, 12), "In(id,"))) {
      val line = scanLine(v2.filter(f))
      assert(line.contains("pushedFilters=[") && line.contains(shown), line)
    }
  }

  test("a pushed filter sees the last of duplicate keys, as on the JsonlSource path") {
    val Seq(jsonl, v2) = readBoth(Seq(
      rec("users", """{"id":1,"id":9}""", 1L), rec("users", """{"id":9,"id":1}""", 2L)))
    for (f <- Seq(col("id") > 7, col("id") < 5)) {
      val ids = Seq(jsonl, v2).map(_.filter(f).select("id").collect().map(_.getLong(0)).toSeq)
      assert(ids.distinct.size == 1 && ids.head.size == 1, s"$f: $ids")
    }
  }
}
