package graft

import java.nio.file.Files

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types._

import graft.cache.SparkCache
import graft.protocol._
import graft.streaming.StreamingIngest

/** Structured Streaming ingestion: message-loop ST1/ST2 semantics. */
class StreamingSpec extends SparkTestBase {

  import spark.implicits._

  private val declared = StructType(Seq(
    StructField("id", LongType),
    StructField("name", StringType),
    StructField("ts", TimestampType)))

  test("streaming JSONL ingest lands in cache with state checkpoint") {
    implicit val sqlCtx = spark.sqlContext
    val cache = SparkCache.fresh(spark, "graft_test_stream")
    val catalog = ConfiguredCatalog(Seq(
      ConfiguredStream("live", new StructType(), primaryKeys = Seq("id"))))
    val checkpoint = Files.createTempDirectory("graft-ckpt").toString

    val input = MemoryStream[String]
    input.addData(
      """{"id":1,"name":"a","ts":"2024-01-01T00:00:00Z"}""",
      """{"id":2,"name":"b","ts":"2024-01-01T01:00:00Z"}""",
      """{"id":2,"name":"b-updated","ts":"2024-01-01T02:00:00Z"}""")

    val q = StreamingIngest.ingestJsonl(
      input.toDS(), declared, cache, catalog, "live",
      cursorField = Some("ts"), checkpointDir = checkpoint)
    q.awaitTermination(60000)

    // merge-by-PK: id=2 deduped last-wins
    val rows = cache.table("live").select("id", "name")
      .as[(Long, String)].collect().sortBy(_._1)
    assert(rows.length == 2)
    assert(rows(0) == ((1L, "a")))
    assert(rows(1)._1 == 2L)
    // state checkpointed with the max cursor
    val st = cache.latestState("stream", "live")
    assert(st.exists(_.contains("cursor")))
    cache.dropAll()
  }

  test("a string cursor with a quote and a backslash round-trips through state as JSON") {
    implicit val sqlCtx = spark.sqlContext
    val cache = SparkCache.fresh(spark, "graft_test_stream_cursor")
    val catalog = ConfiguredCatalog(Seq(ConfiguredStream("live", new StructType())))
    val input = MemoryStream[String]
    input.addData("""{"id":1,"name":"a\"b\\c"}""")
    val q = StreamingIngest.ingestJsonl(
      input.toDS(), declared, cache, catalog, "live", cursorField = Some("name"),
      checkpointDir = Files.createTempDirectory("graft-ckpt-c").toString)
    q.awaitTermination(60000)
    val st = cache.latestState("stream", "live")
    assert(st.isDefined, "no state written")
    val node = AirbyteMessage.mapper.readTree(st.get) // throws on invalid JSON
    assert(node.get("cursor").asText() == "a\"b\\c", st.get)
    assert(node.get("batch_id").asLong() == 0L, st.get)
    cache.dropAll()
  }

  test("streaming merge-upsert across micro-batches is idempotent last-wins") {
    implicit val sqlCtx = spark.sqlContext
    val cache = SparkCache.fresh(spark, "graft_test_stream_merge")
    val catalog = ConfiguredCatalog(Seq(
      ConfiguredStream("live", new StructType(), primaryKeys = Seq("id"))))
    val checkpoint = Files.createTempDirectory("graft-ckpt-m").toString
    val input = MemoryStream[String]
    val q = StreamingIngest.ingestJsonl(
      input.toDS(), declared, cache, catalog, "live",
      cursorField = Some("ts"), checkpointDir = checkpoint)
    // batch 1: initial rows
    input.addData(
      """{"id":1,"name":"a","ts":"2024-01-01T00:00:00Z"}""",
      """{"id":2,"name":"b","ts":"2024-01-01T00:00:00Z"}""")
    q.awaitTermination(60000)
    // batch 2 (new query, same checkpoint): update id=2, re-deliver id=1,
    // insert id=3 — the at-least-once redelivery the merge must absorb
    input.addData(
      """{"id":2,"name":"b-v2","ts":"2024-01-01T02:00:00Z"}""",
      """{"id":1,"name":"a","ts":"2024-01-01T00:00:00Z"}""",
      """{"id":3,"name":"c","ts":"2024-01-01T03:00:00Z"}""")
    val q2 = StreamingIngest.ingestJsonl(
      input.toDS(), declared, cache, catalog, "live",
      cursorField = Some("ts"), checkpointDir = checkpoint)
    q2.awaitTermination(60000)
    val rows = cache.table("live").select("id", "name")
      .as[(Long, String)].collect().sortBy(_._1)
    assert(rows.toSeq == Seq((1L, "a"), (2L, "b-v2"), (3L, "c")))
    // cursor advanced to the latest ts
    assert(cache.latestState("stream", "live").exists(_.contains("03:00")))
    cache.dropAll()
  }

  test("streaming CDC: a delete arriving in a later micro-batch removes the key") {
    implicit val sqlCtx = spark.sqlContext
    val cache = SparkCache.fresh(spark, "graft_test_stream_cdc")
    val cdcDeclared = declared.add(StructField("deleted_at", TimestampType))
    val catalog = ConfiguredCatalog(Seq(
      ConfiguredStream("live", new StructType(), primaryKeys = Seq("id"),
        cursorField = Some("ts"), cdcDeletedAtField = Some("deleted_at"))))
    val checkpoint = Files.createTempDirectory("graft-ckpt-cdc").toString
    val input = MemoryStream[String]
    val q = StreamingIngest.ingestJsonl(
      input.toDS(), cdcDeclared, cache, catalog, "live",
      cursorField = Some("ts"), checkpointDir = checkpoint)
    input.addData(
      """{"id":1,"name":"a","ts":"2024-01-01T00:00:00Z"}""",
      """{"id":2,"name":"b","ts":"2024-01-01T00:00:00Z"}""")
    q.awaitTermination(60000)
    // later batch: tombstone for id=2 (Debezium-style deleted_at), new id=3
    input.addData(
      """{"id":2,"name":"b","ts":"2024-01-01T02:00:00Z","deleted_at":"2024-01-01T02:00:00Z"}""",
      """{"id":3,"name":"c","ts":"2024-01-01T03:00:00Z"}""")
    val q2 = StreamingIngest.ingestJsonl(
      input.toDS(), cdcDeclared, cache, catalog, "live",
      cursorField = Some("ts"), checkpointDir = checkpoint)
    q2.awaitTermination(60000)
    val ids = cache.table("live").select("id").as[Long].collect().sorted
    assert(ids.toSeq == Seq(1L, 3L), "deleted key must vanish from the cache table")
    cache.dropAll()
  }

  test("stream-static enrichment broadcast-joins each micro-batch") {
    implicit val sqlCtx = spark.sqlContext
    val dim = Seq((1L, "gold"), (2L, "silver")).toDF("user_id", "tier")
    val input = MemoryStream[(Long, Double)]
    val enriched = StreamingIngest.enrichWithStatic(
      input.toDF().toDF("user_id", "amount"), dim, Seq("user_id"))
    // data must exist BEFORE start: AvailableNow snapshots the available
    // offsets when the query starts, so later addData may see zero batches
    input.addData((1L, 10.0), (2L, 20.0), (9L, 30.0))
    val q = enriched.writeStream.format("memory").queryName("enriched")
      .outputMode("append").trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    val out = spark.table("enriched")
      .select("user_id", "tier").as[(Long, Option[String])].collect().toSet
    assert(out == Set((1L, Some("gold")), (2L, Some("silver")), (9L, None)))
  }

  test("checkpoint resume across query restarts is exactly-once") {
    val cache = SparkCache.fresh(spark, "graft_test_resume")
    val catalog = ConfiguredCatalog(Seq(
      ConfiguredStream("files", new StructType(), primaryKeys = Seq("id"))))
    val checkpoint = Files.createTempDirectory("graft-ckpt2").toString
    val srcDir = Files.createTempDirectory("graft-src")

    def writeBatchFile(name: String, ids: Range): Unit =
      Files.write(srcDir.resolve(name),
        ids.map(i => s"""{"id":$i,"name":"n$i","ts":"2024-01-01T00:00:00Z"}""")
          .mkString("\n").getBytes("UTF-8"))

    def runOnce(): Unit = {
      val stream = spark.readStream.textFile(srcDir.toString)
      val q = StreamingIngest.ingestJsonl(stream, declared, cache, catalog,
        "files", checkpointDir = checkpoint)
      q.awaitTermination(60000)
    }

    writeBatchFile("b1.jsonl", 1 to 50)
    runOnce()
    assert(cache.table("files").count() == 50)

    // restart with the SAME checkpoint after new files arrive: batch 1
    // must not be reprocessed (file-source offsets in the checkpoint),
    // and merge-by-PK absorbs any replay
    writeBatchFile("b2.jsonl", 51 to 80)
    runOnce()
    assert(cache.table("files").count() == 80)
    import spark.implicits._
    assert(cache.table("files").select("id").as[Long].collect().toSet ==
      (1L to 80L).toSet)
    cache.dropAll()
  }

  test("windowed aggregation with watermark produces hourly buckets") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(java.sql.Timestamp, String, Double)]
    input.addData(
      (java.sql.Timestamp.valueOf("2024-01-01 00:10:00"), "click", 1.0),
      (java.sql.Timestamp.valueOf("2024-01-01 00:20:00"), "click", 2.0),
      (java.sql.Timestamp.valueOf("2024-01-01 01:10:00"), "view", 3.0))
    val events = input.toDS().toDF("ts", "event_type", "value")
    val agg = StreamingIngest.windowedCounts(events, "ts", "1 hour", "2 hours")
    val q = agg.writeStream.format("memory").queryName("winagg")
      .outputMode("complete").trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(60000)
    val out = spark.table("winagg")
      .select("event_type", "n").as[(String, Long)].collect().toMap
    assert(out == Map("click" -> 2L, "view" -> 1L))
  }
}
