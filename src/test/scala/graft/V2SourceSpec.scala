package graft

import java.nio.file.{Files, Paths}
import java.util.zip.GZIPOutputStream

import org.apache.spark.sql.functions._

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
      rec("users", """{"id":1,"NAME":"ann","score":1.5,"active":true,"tags":[1,2]}""", 1700000000000L),
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
    // case-insensitive field pickup (NAME → name), array → JSON text
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

  test("emitted_at parity with JsonlSource: quoted and fractional give now()") {
    val dir = Files.createTempDirectory("graft-v2").toString
    val lines = Seq(
      rec("users", """{"id":1}""", 1700000000000L),
      """{"type":"RECORD","record":{"stream":"users","data":{"id":2},"emitted_at":"1700000000000"}}""",
      """{"type":"RECORD","record":{"stream":"users","data":{"id":3},"emitted_at":1.7E12}}""",
      """{"type":"RECORD","record":{"stream":"users","data":{"id":4}}}""",
      """{"type":"RECORD","record":{"stream":"users","data":[4,5],"emitted_at":5}}""")
    writeLines(s"$dir/t1.jsonl", lines)
    val declared = graft.protocol.ConfiguredCatalog.fromCatalogJson(catalogJson)("users").schema
    val t0 = System.currentTimeMillis()
    def read(df: org.apache.spark.sql.DataFrame): Seq[(Any, Long)] =
      df.select("id", "_airbyte_extracted_at").collect().toSeq.map(r =>
        (r.get(0), r.getTimestamp(1).getTime)).sortBy(_._2)
    val v2 = read(spark.read.format(fmt)
      .option("catalogJson", catalogJson).option("stream", "users")
      .load(s"$dir/t1.jsonl"))
    val jsonl = read(graft.operators.Records.normalizeProtocol(
      spark.createDataset(lines)(org.apache.spark.sql.Encoders.STRING), "users", declared))
    val t1 = System.currentTimeMillis()
    for (got <- Seq(v2, jsonl)) {
      // a non-object data is a row of nulls with its own emitted_at
      assert(got.take(2) == Seq((null, 5L), (1L, 1700000000000L)), got)
      assert(got.drop(2).map(_._1).toSet == Set(2L, 3L, 4L), got)
      assert(got.drop(2).forall { case (_, at) => at >= t0 && at <= t1 }, got)
    }
  }

  test("single-quoted and NaN data read as on the JsonlSource path") {
    val dir = Files.createTempDirectory("graft-v2").toString
    val lines = Seq(
      rec("users", """{'id':1,'name':'ann'}""", 1L),
      rec("users", """{"id":2,"score":NaN}""", 2L),
      rec("users", """{"id":3,"name":'bo',"score":-Infinity}""", 3L),
      rec("users", """{"id":4,"score":2.5}""", 4L))
    writeLines(s"$dir/q1.jsonl", lines)
    val declared = graft.protocol.ConfiguredCatalog.fromCatalogJson(catalogJson)("users").schema
    def read(df: org.apache.spark.sql.DataFrame) =
      df.select("id", "name", "score").orderBy("id").collect().toSeq
    val jsonl = read(graft.operators.Records.normalizeProtocol(
      spark.createDataset(lines)(org.apache.spark.sql.Encoders.STRING), "users", declared))
    val v2 = read(spark.read.format(fmt)
      .option("catalogJson", catalogJson).option("stream", "users")
      .load(s"$dir/q1.jsonl"))
    assert(v2.map(_.getLong(0)) == Seq(1L, 2L, 3L, 4L), v2)
    assert(v2 == jsonl)
    // score is DECIMAL(38,9): a non-finite number is null, the row stays
    assert(v2.map(_.isNullAt(2)) == Seq(true, true, true, false))
    assert(v2(0).getString(1) == "ann" && v2(2).getString(1) == "bo")
  }

  test("a value of the wrong JSON kind reads null, as on the JsonlSource path") {
    val dir = Files.createTempDirectory("graft-v2").toString
    val lines = Seq(
      """{"id":"12","name":"quoted int"}""",
      """{"id":"abc","name":"text int"}""",
      """{"id":3,"active":"yes"}""",
      """{"id":4,"active":"true"}""",
      """{"id":5,"active":1}""",
      """{"id":6,"score":"2.5"}""",
      """{"id":7,"score":"abc"}""",
      """{"id":8.0,"name":"fractional int"}""",
      """{"id":99999999999999999999,"name":"overflow"}""",
      """{"id":10,"name":12,"score":true}""").zipWithIndex.map {
      case (data, i) => rec("users", data, i + 1L)
    }
    writeLines(s"$dir/k1.jsonl", lines)
    val declared = graft.protocol.ConfiguredCatalog.fromCatalogJson(catalogJson)("users").schema
    def read(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("_airbyte_extracted_at").select("id", "name", "score", "active")
        .collect().toSeq.map(_.toSeq)
    val jsonl = graft.operators.Records.normalizeProtocol(
      spark.createDataset(lines)(org.apache.spark.sql.Encoders.STRING), "users", declared)
    val v2 = spark.read.format(fmt)
      .option("catalogJson", catalogJson).option("stream", "users")
      .load(s"$dir/k1.jsonl")
    // recorded from Records.normalizeProtocol (from_json) on these lines
    val expected = Seq(
      Seq(null, "quoted int", null, null),
      Seq(null, "text int", null, null),
      Seq(3L, null, null, null), // "yes"
      Seq(4L, null, null, null), // "true"
      Seq(5L, null, null, null), // 1
      Seq(6L, null, new java.math.BigDecimal("2.500000000"), null), // quoted number
      Seq(7L, null, null, null),
      Seq(null, "fractional int", null, null),
      Seq(null, "overflow", null, null),
      Seq(10L, "12", null, null))
    assert(read(jsonl) == expected)
    assert(read(v2) == expected)
    // the pushed IsNull sees the same nulls the rows carry
    assert(v2.filter(col("id").isNull).count() == jsonl.filter(col("id").isNull).count())
  }
}
