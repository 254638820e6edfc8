package graft

import java.nio.file.Files
import java.sql.Timestamp

import scala.util.Try

import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
import org.apache.spark.sql.{GraftBridge, Row}
import org.apache.spark.sql.types._
import org.apache.spark.storage.StorageLevel

import graft.cache.SparkCache
import graft.operators.Records
import graft.protocol._
import graft.sources.JsonlSource

/** Parity of the protocol-envelope ingest path (`Records.normalizeProtocol`):
  * the full normalized row, minus the random `_airbyte_raw_id`, for each
  * envelope and payload shape a connector can emit. The expected rows
  * were recorded from the typed whole-envelope `from_json` route. */
class ProtocolEnvelopeSpec extends SparkTestBase {

  import spark.implicits._

  private val declared = StructType(Seq(
    StructField("ID", LongType),
    StructField("Name", StringType),
    StructField("Price", DecimalType(38, 2)),
    StructField("Meta", StructType(Seq(
      StructField("n", LongType),
      StructField("tag", StringType))))))

  private val Emitted = 1700000000000L

  private def rec(data: String, stream: String = "users",
      emitted: String = Emitted.toString): String =
    s"""{"type":"RECORD","record":{"stream":"$stream","data":$data,"emitted_at":$emitted}}"""

  /** One normalized row rendered as text; an `_airbyte_extracted_at`
    * inside the read's wall window renders as `now`. */
  private def render(r: Row, t0: Long, t1: Long): String = {
    val at = r.getAs[Timestamp](Records.ExtractedAtColumn)
    val atText =
      if (at == null) "null"
      else if (at.getTime >= t0 && at.getTime <= t1 && at.getTime != Emitted) "now"
      else at.getTime.toString
    val price = Option(r.getAs[java.math.BigDecimal]("price")).map(_.toPlainString).orNull
    Seq(r.getAs[Any]("id"), r.getAs[Any]("name"), price, r.getAs[Any]("meta"),
      atText, r.getAs[Any](Records.MetaColumn)).mkString("|")
  }

  private def normalized(lines: String*): Seq[String] = {
    val t0 = System.currentTimeMillis()
    val df = Records.normalizeProtocol(lines.toDS(), "users", declared)
    val rows = df.collect()
    val t1 = System.currentTimeMillis()
    assert(df.columns.toSeq == Seq("id", "name", "price", "meta") ++ Records.InternalColumns)
    assert(rows.forall(_.getAs[String](Records.RawIdColumn) != null))
    rows.map(render(_, t0, t1)).toSeq.sorted
  }

  private val cases: Seq[(String, String, Seq[String])] = Seq(
    ("a DECIMAL(38,2) beyond double precision survives exactly",
      rec("""{"ID":1,"Name":"a","Price":12345678901234567.89}"""),
      Seq(s"1|a|12345678901234567.89|null|$Emitted|{}")),
    ("a mistyped field is null and the row is kept",
      rec("""{"ID":"abc","Name":"b","Price":1.5}"""),
      Seq(s"null|b|1.50|null|$Emitted|{}")),
    ("a quoted number is null and the row is kept",
      rec("""{"ID":"12","Name":"c"}"""),
      Seq(s"null|c|null|null|$Emitted|{}")),
    ("data as a string gives a row of nulls",
      rec("\"hello\""), Seq(s"null|null|null|null|$Emitted|{}")),
    ("data as an array gives a row of nulls",
      rec("""[{"ID":1}]"""), Seq(s"null|null|null|null|$Emitted|{}")),
    ("data null gives a row of nulls",
      rec("null"), Seq(s"null|null|null|null|$Emitted|{}")),
    ("data missing gives a row of nulls",
      """{"type":"RECORD","record":{"stream":"users","emitted_at":1700000000000}}""",
      Seq(s"null|null|null|null|$Emitted|{}")),
    ("no emitted_at falls back to now()",
      """{"type":"RECORD","record":{"stream":"users","data":{"ID":2}}}""",
      Seq("2|null|null|null|now|{}")),
    ("a string emitted_at falls back to now()",
      rec("""{"ID":3}""", emitted = "\"1700000000000\""),
      Seq("3|null|null|null|now|{}")),
    ("the stream name matches case-insensitively",
      rec("""{"ID":4}""", stream = "USERS"),
      Seq(s"4|null|null|null|$Emitted|{}")),
    ("payload keys match the declared wire case exactly",
      rec("""{"id":5,"ID":6,"name":"lower","Name":"Upper"}"""),
      Seq(s"6|Upper|null|null|$Emitted|{}")),
    ("type as the last key",
      """{"record":{"emitted_at":1700000000000,"data":{"ID":7},"stream":"users"},"type":"RECORD"}""",
      Seq(s"7|null|null|null|$Emitted|{}")),
    ("a mistyped nested field is null inside its struct",
      rec("""{"ID":8,"Meta":{"n":"x","tag":"t"}}"""),
      Seq(s"8|null|null|[null,t]|$Emitted|{}")),
    ("escapes and non-ASCII characters round-trip",
      rec("""{"ID":9,"Name":"q\"b\\s\/é ñ 日本 😀\n\t"}"""),
      Seq(s"9|q\"b\\s/é ñ 日本 😀\n\t|null|null|$Emitted|{}")),
    ("a truncated line is dropped",
      """{"type":"RECORD","record":{"stream":"users","data":{"ID":10,"Na""", Seq.empty),
    ("a garbage line is dropped", "not json {", Seq.empty),
    ("a STATE line is dropped",
      """{"type":"STATE","state":{"type":"STREAM","stream":{"stream_descriptor":{"name":"users"}}}}""",
      Seq.empty),
    ("another stream's record is dropped", rec("""{"ID":11}""", stream = "orders"), Seq.empty),
    ("a duplicate key: the last one wins",
      rec("""{"ID":12,"Name":"first","Name":"last","ID":13}"""),
      Seq(s"13|last|null|null|$Emitted|{}")),
    ("a duplicate record object: the last one wins whole",
      """{"type":"RECORD","record":{"stream":"users","data":{"ID":14}},"record":{"stream":"users","emitted_at":5}}""",
      Seq("null|null|null|null|5|{}")),
    ("a lowercase type is not a RECORD", rec("""{"ID":15}""").replace("RECORD", "record"), Seq.empty),
    ("a fractional emitted_at falls back to now()",
      rec("""{"ID":16}""", emitted = "1.7E12"), Seq("16|null|null|null|now|{}")),
    ("an emitted_at past the long range falls back to now()",
      rec("""{"ID":17}""", emitted = "99999999999999999999"), Seq("17|null|null|null|now|{}")),
    ("whitespace and single quotes parse like the typed reader",
      """ { 'type' : 'RECORD', 'record' : { 'stream' : 'users', 'data' : { 'ID' : 18, 'Name' : 'sq' } } } """,
      Seq("18|sq|null|null|now|{}")),
    ("trailing text after the envelope object",
      rec("""{"ID":19}""") + " trailing", Seq(s"19|null|null|null|$Emitted|{}")),
    ("a malformed number inside data drops the line",
      rec("""{"ID":21,"Price":1.2.3}"""), Seq.empty),
    ("a missing colon inside data drops the line",
      rec("""{"ID":22,"Name" "x"}"""), Seq.empty),
    ("an unescaped control character drops the line",
      rec("{\"ID\":24,\"Name\":\"a\u0001b\"}"), Seq.empty),
    ("NaN for a decimal is null and the row is kept",
      rec("""{"ID":25,"Price":NaN}"""), Seq(s"25|null|null|null|$Emitted|{}")))

  cases.foreach { case (name, line, expected) =>
    test(s"envelope parity: $name") {
      assert(normalized(line) == expected)
    }
  }

  test("envelope parity: every shape in one frame gives the union of the rows") {
    assert(normalized(cases.map(_._2): _*) == cases.flatMap(_._3).sorted)
  }

  // The typed whole-envelope reader recovered from some invalid tokens
  // inside `data` and kept a partial row (`"Name":tru` gave a row of nulls
  // stamped now(), `"Meta":{"n":nul}` kept `ID` and lost `emitted_at`),
  // while a malformed number or a missing colon dropped the line. Invalid
  // JSON anywhere in a line now drops that line.
  test("a line with an invalid literal inside data is dropped") {
    assert(normalized(rec("""{"ID":20,"Name":tru}"""),
      rec("""{"ID":23,"Meta":{"n":nul}}""")).isEmpty)
  }

  test("split slices data exactly, also past the parser's in-memory size") {
    val long = "x" * 40000
    val data = s"""{ "Name" : "é\\"$long", "n" : [1, {"a": 1.10}] }"""
    val line = s"""{"type":"RECORD","record":{"stream":"s","emitted_at":7,"data":$data}}"""
    assert(RecordEnvelope.split(line).contains(RecordEnvelope("s", data, Some(7L))))
    assert(RecordEnvelope.split(line.take(100)).isEmpty)
  }

  test("envelope plans built from equal line plans are the same plan") {
    val lines = Seq(rec("""{"ID":1}""")).toDS()
    val a = Records.protocolEnvelopes(lines).queryExecution.analyzed
    val b = Records.protocolEnvelopes(lines.toDF().as[String]).queryExecution.analyzed
    assert(a.sameResult(b))
  }

  test("a DECIMAL(38,2) payload survives recordJsonl → Records.normalize unchanged") {
    val line = rec("""{"ID":1,"Price":12345678901234567.89}""")
    assert(AirbyteMessage.parse(line).flatMap(_.dataJson)
      .contains("""{"ID":1,"Price":12345678901234567.89}"""))
    val catalog = ConfiguredCatalog(Seq(ConfiguredStream("users", declared)))
    val src = new JsonlSource("dec", catalog, s => { import s.implicits._; Seq(line).toDS() })
    val price = Records.normalize(src.recordJsonl(spark, "users"), declared)
      .select("price").as[java.math.BigDecimal].collect()
    assert(price.toSeq == Seq(new java.math.BigDecimal("12345678901234567.89")))
  }

  test("the protocol DataSource reads a DECIMAL payload exactly") {
    val dir = Files.createTempDirectory("graft-envelope").toString
    Files.write(java.nio.file.Paths.get(s"$dir/p.jsonl"),
      rec("""{"id":1,"score":12345678901234567.89}""").getBytes("UTF-8"))
    val score = spark.read.format("graft.sources.v2.ProtocolDataSource")
      .option("catalogJson", """{"streams":[{"name":"users","json_schema":{"properties":{
        |"id":{"type":"integer"},"score":{"type":"number"}}}}]}""".stripMargin)
      .option("stream", "users").load(s"$dir/p.jsonl")
      .select("score").as[java.math.BigDecimal].collect()
    assert(score.toSeq.map(_.toPlainString) == Seq("12345678901234567.890000000"))
  }

  private val streams = Seq("alpha", "beta", "gamma")
  private val idOnly = StructType(Seq(StructField("id", LongType)))

  /** A 3-stream protocol file of `perStream` records per stream,
    * interleaved, and a JsonlSource over it whose streams all merge on `id`
    * except `keyless` ones. */
  private def threeStreamSource(perStream: Int,
      keyless: Set[String] = Set.empty): (JsonlSource, String) = {
    val dir = Files.createTempDirectory("graft-envelope").toString
    val lines = (0 until perStream).flatMap(i => streams.map(s =>
      rec(s"""{"id":$i}""", stream = s)))
    Files.write(java.nio.file.Paths.get(s"$dir/sync.jsonl"), lines.mkString("\n").getBytes("UTF-8"))
    val catalog = ConfiguredCatalog(streams.map(s =>
      ConfiguredStream(s, idOnly, primaryKeys = if (keyless(s)) Nil else Seq("id"))))
    (new JsonlSource("three", catalog, _.read.textFile(s"$dir/sync.jsonl")), s"$dir/sync.jsonl")
  }

  /** Input records read by the tasks `body` runs. */
  private def recordsRead(body: => Unit): Long = {
    val sc = spark.sparkContext
    GraftBridge.drainListenerBus(sc, 60000)
    var read = 0L
    val listener = new SparkListener {
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
        if (e.taskMetrics != null) read += e.taskMetrics.inputMetrics.recordsRead
      }
    }
    sc.addSparkListener(listener)
    try { body; GraftBridge.drainListenerBus(sc, 60000) }
    finally sc.removeSparkListener(listener)
    listener.synchronized(read)
  }

  test("a multi-stream read scans the protocol file once") {
    val (src, file) = threeStreamSource(1000)
    val cache = SparkCache.fresh(spark, "graft_envelope_scan")
    try {
      val read = recordsRead(src.read(cache, spark))
      assert(read >= 3000 && read < 3300, s"$read input records read for a 3000-line file")
      streams.foreach(s => assert(cache.table(s).count() == 1000))
      assert(Records.protocolEnvelopes(spark.read.textFile(file)).storageLevel == StorageLevel.NONE)
    } finally cache.dropAll()
  }

  test("the shared envelopes are unpersisted when a stream's write throws") {
    val (src, file) = threeStreamSource(10, keyless = Set("beta"))
    val cache = SparkCache.fresh(spark, "graft_envelope_throw")
    try {
      val e = Try(src.read(cache, spark, streams, WriteStrategy.Merge)).failed.get
      assert(e.getMessage.contains("primary key"))
      assert(cache.table("alpha").count() == 10) // the first stream was written
      val envelopes = Records.protocolEnvelopes(spark.read.textFile(file))
      assert(envelopes.storageLevel == StorageLevel.NONE)
    } finally cache.dropAll()
  }
}
