package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.types._

import graft.cache.SparkCache
import graft.datasets.TableStatistics
import graft.protocol._
import graft.sources.{Destination, SubprocessSource}

/**
 * Scripted-connector end-to-end (the reference's source-test fixture
 * pattern: a script printing a fixed protocol stream —
 * `tests/integration_tests/fixtures/source-test`): subprocess scan →
 * cache, early-stop semantics, destination replay, table statistics.
 */
class SubprocessSpec extends SparkTestBase {

  import spark.implicits._

  private val usersSchema = StructType(Seq(
    StructField("id", LongType), StructField("name", StringType)))
  private val catalog = ConfiguredCatalog(Seq(
    ConfiguredStream("users", usersSchema, primaryKeys = Seq("id"))))

  /** Writes a shell-script connector emitting n records + state + trace. */
  private def scriptedConnector(n: Int): Seq[String] = {
    val script = Files.createTempFile("source-test", ".sh")
    val lines = (1 to n).map(i =>
      s"""echo '{"type":"RECORD","record":{"stream":"users","data":{"id":$i,"name":"user_$i"},"emitted_at":1700000000000}}'""")
    val body = ("#!/bin/sh" +: lines :+
      """echo '{"type":"STATE","state":{"type":"STREAM","stream":{"stream_descriptor":{"name":"users"},"stream_state":{"cursor":""" + n + """}}}}'""" :+
      """echo '{"type":"TRACE","trace":{"type":"STREAM_STATUS","stream_status":{"stream_descriptor":{"name":"users"},"status":"COMPLETE"}}}'""")
      .mkString("\n")
    Files.write(script, body.getBytes("UTF-8"))
    script.toFile.setExecutable(true)
    Seq("/bin/sh", script.toString)
  }

  test("check() succeeds on SUCCEEDED status, fails with connector message otherwise") {
    def statusConnector(json: String): Seq[String] = {
      val script = Files.createTempFile("check-test", ".sh")
      Files.write(script, s"#!/bin/sh\necho '$json'".getBytes("UTF-8"))
      script.toFile.setExecutable(true)
      Seq("/bin/sh", script.toString)
    }
    val src = new SubprocessSource("t", catalog, Seq("/bin/true"))
    src.check(statusConnector(
      """{"type":"CONNECTION_STATUS","connectionStatus":{"status":"SUCCEEDED"}}"""))
    val failed = intercept[IllegalStateException](src.check(statusConnector(
      """{"type":"CONNECTION_STATUS","connectionStatus":{"status":"FAILED","message":"bad credentials"}}""")))
    assert(failed.getMessage.contains("bad credentials"))
    intercept[IllegalStateException](src.check(Seq("/bin/true"))) // no status at all
    // malformed message (no connectionStatus node) → diagnostic, not NPE
    val malformed = intercept[IllegalStateException](src.check(statusConnector(
      """{"type":"CONNECTION_STATUS"}""")))
    assert(malformed.getMessage.contains("connectionStatus"))
  }

  test("withConfig hydrates secret references into a private config file") {
    import graft.sources.Secrets
    Secrets.resetSecretSources()
    try {
      Secrets.registerSecretManager(
        new Secrets.EnvVarSecretManager(Map("SUB_TOKEN" -> "tok-42")))
      val src = SubprocessSource.withConfig("cfg", catalog, Seq("/bin/true"),
        """{"host":"h","credentials":{"token":"secret_reference::SUB_TOKEN"}}""")
      // command gained --config <path>; the file holds the HYDRATED doc
      val idx = src.cmd.indexOf("--config")
      assert(idx >= 0, s"cmd must carry --config: ${src.cmd}")
      val path = java.nio.file.Paths.get(src.cmd(idx + 1))
      val text = new String(java.nio.file.Files.readAllBytes(path), "UTF-8")
      assert(text.contains("tok-42") && !text.contains("secret_reference"))
      // resolved secrets on disk → owner-only permissions
      import scala.jdk.CollectionConverters._
      val perms = java.nio.file.Files.getPosixFilePermissions(path).asScala
      assert(!perms.exists(_.toString.startsWith("GROUP")) &&
        !perms.exists(_.toString.startsWith("OTHERS")), s"too-open perms: $perms")
      // the hydrated config holds plaintext secrets — close() must
      // remove it so credentials don't accumulate in /tmp
      src.close()
      assert(!java.nio.file.Files.exists(path), "close() must delete the hydrated config")
      src.close() // idempotent
    } finally Secrets.resetSecretSources()
  }

  test("check() survives a connector flooding stderr past the pipe buffer") {
    // >64 KiB of stderr before the status: without a drain thread the
    // child blocks on a full pipe and check() hangs forever.
    val script = Files.createTempFile("check-chatty", ".sh")
    val body =
      """#!/bin/sh
        |i=0
        |while [ $i -lt 2000 ]; do
        |  echo "log line $i padding-padding-padding-padding-padding-padding" >&2
        |  i=$((i+1))
        |done
        |echo '{"type":"CONNECTION_STATUS","connectionStatus":{"status":"SUCCEEDED"}}'
        |""".stripMargin
    Files.write(script, body.getBytes("UTF-8"))
    script.toFile.setExecutable(true)
    val src = new SubprocessSource("t", catalog, Seq("/bin/true"))
    src.check(Seq("/bin/sh", script.toString)) // must return, not hang
  }

  test("sync writes the connector's log file: LOG + stderr at info, TRACE error at error") {
    import graft.logs.Logs
    val root = Files.createTempDirectory("graft-logtest").toString
    val prev = Logs.envReader
    Logs.envReader = {
      case Logs.EnvLoggingRoot => Some(root)
      case _ => None
    }
    try {
      val script = Files.createTempFile("source-logs", ".sh")
      val body =
        """#!/bin/sh
          |echo "bare stderr diagnostics" >&2
          |echo '{"type":"LOG","log":{"level":"INFO","message":"starting incremental sync"}}'
          |echo 'not json at all'
          |echo '{"type":"RECORD","record":{"stream":"users","data":{"id":1,"name":"a"},"emitted_at":1700000000000}}'
          |echo '{"type":"TRACE","trace":{"type":"ERROR","error":{"message":"rate limit exceeded"}}}'
          |echo '{"type":"TRACE","trace":{"type":"STREAM_STATUS","stream_status":{"stream_descriptor":{"name":"users"},"status":"COMPLETE"}}}'
          |""".stripMargin
      Files.write(script, body.getBytes("UTF-8"))
      script.toFile.setExecutable(true)
      val src = new SubprocessSource("source-logged", catalog,
        Seq("/bin/sh", script.toString))
      val cache = SparkCache.fresh(spark, "graft_test_logsync")
      src.sync(cache, spark)
      // the per-connector folder holds one announced log file
      val dir = Paths.get(root, "source-logged")
      val files = Files.list(dir).toArray.toSeq.map(_.asInstanceOf[java.nio.file.Path])
      assert(files.size == 1, s"expected one log file, got $files")
      // stderr drains on its own thread — wait for the line to land
      def lines() = Files.readAllLines(files.head).asScala.toSeq
      val deadline = System.currentTimeMillis() + 5000
      while (!lines().exists(_.contains("bare stderr diagnostics"))
          && System.currentTimeMillis() < deadline) Thread.sleep(20)
      val all = lines()
      assert(all.exists(l => l.contains("- INFO - starting incremental sync")),
        s"protocol LOG must persist at info: $all")
      assert(all.exists(l => l.contains("- INFO - not json at all")),
        "unparseable stdout lines persist at info")
      assert(all.exists(l => l.contains("- INFO - bare stderr diagnostics")),
        "stderr stream persists at info")
      assert(all.exists(l => l.contains("- ERROR - rate limit exceeded")),
        "TRACE/ERROR persists at error")
      cache.dropAll()
    } finally Logs.envReader = prev
  }

  test("structured-logging toggle switches the connector log to JSON lines") {
    import graft.logs.Logs
    val root = Files.createTempDirectory("graft-logtest").toString
    val prev = Logs.envReader
    Logs.envReader = {
      case Logs.EnvLoggingRoot => Some(root)
      case Logs.EnvStructuredLogging => Some("true")
      case _ => None
    }
    try {
      val script = Files.createTempFile("source-logs", ".sh")
      Files.write(script,
        ("#!/bin/sh\n" +
          """echo '{"type":"LOG","log":{"level":"INFO","message":"structured hello"}}'""" +
          "\n").getBytes("UTF-8"))
      script.toFile.setExecutable(true)
      val src = new SubprocessSource("source-structured", catalog,
        Seq("/bin/sh", script.toString))
      src.messages().toList // drain the run
      val files = Files.list(Paths.get(root, "source-structured"))
        .toArray.toSeq.map(_.asInstanceOf[java.nio.file.Path])
      val line = Files.readAllLines(files.head).asScala
        .find(_.contains("structured hello")).getOrElse(fail("no log line"))
      val n = new com.fasterxml.jackson.databind.ObjectMapper().readTree(line)
      assert(n.get("event").asText() == "structured hello")
      assert(n.get("level").asText() == "info")
      assert(n.hasNonNull("timestamp"))
    } finally Logs.envReader = prev
  }

  test("sync(): one connector run demultiplexes streams, checkpoints protocol state") {
    // two interleaved streams + per-stream STATE + a GLOBAL state +
    // TRACE COMPLETE for users midway; an invocation counter proves the
    // connector ran ONCE (read() would have run it once per stream)
    val counter = Files.createTempFile("sync-invocations", ".txt")
    val script = Files.createTempFile("multi-stream", ".sh")
    val body =
      s"""#!/bin/sh
         |echo x >> $counter
         |echo '{"type":"RECORD","record":{"stream":"users","data":{"id":1,"name":"u1"},"emitted_at":1700000000000}}'
         |echo '{"type":"RECORD","record":{"stream":"orders","data":{"id":10,"name":"o10"},"emitted_at":1700000000000}}'
         |echo '{"type":"STATE","state":{"type":"STREAM","stream":{"stream_descriptor":{"name":"users"},"stream_state":{"cursor":1}}}}'
         |echo '{"type":"RECORD","record":{"stream":"users","data":{"id":2,"name":"u2"},"emitted_at":1700000000000}}'
         |echo '{"type":"STATE","state":{"type":"STREAM","stream":{"stream_descriptor":{"name":"users"},"stream_state":{"cursor":2}}}}'
         |echo '{"type":"TRACE","trace":{"type":"STREAM_STATUS","stream_status":{"stream_descriptor":{"name":"users"},"status":"COMPLETE"}}}'
         |echo '{"type":"RECORD","record":{"stream":"orders","data":{"id":11,"name":"o11"},"emitted_at":1700000000000}}'
         |echo '{"type":"STATE","state":{"type":"GLOBAL","global":{"shared_state":{"wm":"2024-01-01"}}}}'
         |""".stripMargin
    Files.write(script, body.getBytes("UTF-8"))
    script.toFile.setExecutable(true)
    val twoStreams = ConfiguredCatalog(Seq(
      ConfiguredStream("users", usersSchema, primaryKeys = Seq("id")),
      ConfiguredStream("orders", usersSchema, primaryKeys = Seq("id"))))
    val cache = SparkCache.fresh(spark, "graft_test_sync")
    val src = new SubprocessSource("multi", twoStreams,
      Seq("/bin/sh", script.toString), chunkSize = 2) // force a spill
    val result = src.sync(cache, spark)

    assert(Files.readAllLines(counter).size == 1) // ONE connector run
    assert(result.counts == Map("users" -> 2L, "orders" -> 2L))
    // last pending state per stream won; global state keyed _GLOBAL
    assert(src.writeStateArtifact(cache, Seq.empty) != null)
    assert(cache.latestState("multi", "users").exists(_.contains(""""cursor":2""")))
    assert(cache.latestState("multi", "_GLOBAL").exists(_.contains("wm")))
    assert(cache.latestState("multi", "orders").isEmpty) // none emitted
    // the replay artifact carries both states for the next --state run
    val artifact = new String(Files.readAllBytes(
      src.writeStateArtifact(cache)), "UTF-8")
    assert(artifact.contains(""""cursor":2""") && artifact.contains("wm"))
    cache.dropAll()
  }

  test("partitioned fan-out runs one connector per shard on the executors") {
    // shard-parameterized scripted connector: shard i emits ids
    // [i*10+1 .. i*10+5] — distinct per shard, union must be complete
    val script = Files.createTempFile("sharded-source", ".sh")
    val body =
      """#!/bin/sh
        |S=$1
        |i=1
        |while [ $i -le 5 ]; do
        |  ID=$((S * 10 + i))
        |  echo '{"type":"RECORD","record":{"stream":"users","data":{"id":'$ID',"name":"u'$ID'"},"emitted_at":1700000000000}}'
        |  i=$((i+1))
        |done
        |echo '{"type":"TRACE","trace":{"type":"STREAM_STATUS","stream_status":{"stream_descriptor":{"name":"users"},"status":"COMPLETE"}}}'
        |""".stripMargin
    Files.write(script, body.getBytes("UTF-8"))
    script.toFile.setExecutable(true)
    val nShards = 4
    val scriptPath = script.toString // plain String: the λ must serialize
    val src = new graft.sources.PartitionedSubprocessSource(
      "sharded", catalog,
      shard => Seq("/bin/sh", scriptPath, shard.toString), nShards)
    val jsonl = src.recordJsonl(spark, "users")
    // one shard per partition: connector I/O parallelism == nShards
    assert(jsonl.rdd.getNumPartitions == nShards)
    val ids = jsonl.select(org.apache.spark.sql.functions.get_json_object(
        org.apache.spark.sql.functions.col("value"), "$.id").cast("long"))
      .as[Long].collect().sorted
    val expected = (0 until nShards).flatMap(s => (1 to 5).map(i => s * 10L + i)).sorted
    assert(ids.toSeq == expected)

    // end-to-end: fan-out source → cache via the standard read pipeline
    val cache = SparkCache.fresh(spark, "graft_test_fanout")
    src.read(cache, spark)
    assert(cache.table("users").count() == nShards * 5L)
    cache.dropAll()
  }

  test("connector crash mid-stream yields records so far, then FAILS loudly (never hangs)") {
    // emits 5 records then SIGKILLs itself — the lazy iterator yields
    // everything emitted before the crash, and the NONZERO EXIT raises
    // (reference `_executors/base.py`: a crash must never be mistaken
    // for a clean end-of-stream, or partial data commits silently;
    // round-4 pinned the lenient behavior — a real divergence)
    val script = Files.createTempFile("crash-test", ".sh")
    val lines = (1 to 5).map(i =>
      s"""echo '{"type":"RECORD","record":{"stream":"users","data":{"id":$i,"name":"u$i"},"emitted_at":1700000000000}}'""")
    Files.write(script,
      (("#!/bin/sh" +: lines) :+ "kill -9 $$").mkString("\n").getBytes("UTF-8"))
    script.toFile.setExecutable(true)
    val src = new SubprocessSource("crashy", catalog, Seq("/bin/sh", script.toString))
    val it = src.getRecords("users")
    val got = scala.collection.mutable.ArrayBuffer.empty[String]
    val e = intercept[IllegalStateException] {
      it.foreach(got += _)
    }
    assert(got.length == 5, "records before the crash must still arrive")
    assert(got.forall(_.contains("\"id\"")))
    // structured error model: exit code is a named context property
    val se = e.asInstanceOf[graft.errors.SubprocessFailedError]
    assert(se.context("connector_name") == "crashy")
    assert(se.context.contains("exit_code"))
    assert(e.getMessage.contains("Exit Code"), e.getMessage)
  }

  test("an intentional early stop (record limit) is NOT treated as a crash") {
    val src = new SubprocessSource("limited", catalog, scriptedConnector(25))
    val got = src.getRecords("users", limit = Some(7L)).toSeq
    assert(got.length == 7, "limit semantics unchanged — no spurious exit-code failure")
  }

  test("subprocess connector → cache → queryable dataset") {
    val src = new SubprocessSource("scripted", catalog, scriptedConnector(25))
    val cache = SparkCache.fresh(spark, "graft_test_subproc")
    val result = src.read(cache, spark)
    assert(result("users").count() == 25)
    val names = result("users").withFilter("id <= 2").toDF
      .select("name").as[String].collect().sorted
    assert(names.toSeq == Seq("user_1", "user_2"))
    cache.dropAll()
  }

  test("record limit stops the subprocess early (islice + stop event)") {
    val src = new SubprocessSource("scripted", catalog, scriptedConnector(1000))
    val taken = src.getRecords("users", limit = Some(5)).toList
    assert(taken.size == 5)
    assert(src.stopEvent.get) // producer was signalled to stop
  }

  test("protocol round trip: destination replay lines re-parse as RECORDs") {
    val src = new SubprocessSource("scripted", catalog, scriptedConnector(3))
    val cache = SparkCache.fresh(spark, "graft_test_replay")
    src.read(cache, spark)
    cache.writeState("scripted", "users", """{"cursor": 3}""")

    val lines = Destination.recordMessages(cache, "users").collect()
    assert(lines.length == 3)
    val parsed = lines.flatMap(AirbyteMessage.parse)
    assert(parsed.forall(_.messageType == MessageType.RECORD))
    assert(parsed.forall(_.streamName.contains("users")))

    val state = Destination.stateMessage(cache, "scripted", "users")
    assert(state.exists(_.contains(""""cursor": 3""")))
    assert(state.flatMap(AirbyteMessage.parse)
      .exists(_.messageType == MessageType.STATE))
    cache.dropAll()
  }

  test("a stream name with a quote gives parseable RECORD and STATE lines") {
    val name = "we\"ird"
    val cache = SparkCache.fresh(spark, "graft_test_replay_quote")
    cache.writeStream(name, Seq((1L, "a"), (2L, "b")).toDF("id", "name"),
      ConfiguredCatalog(Seq(ConfiguredStream(name, usersSchema))))
    cache.writeState("scripted", name, """{"cursor": 2}""")
    val records = Destination.recordMessages(cache, name).collect()
      .map(l => AirbyteMessage.parse(l).getOrElse(fail(s"unparseable: $l")))
    assert(records.length == 2)
    assert(records.forall(m =>
      m.messageType == MessageType.RECORD && m.streamName.contains(name)))
    val state = Destination.stateMessage(cache, "scripted", name)
      .map(l => AirbyteMessage.parse(l).getOrElse(fail(s"unparseable: $l")))
    assert(state.exists(m =>
      m.messageType == MessageType.STATE && m.streamName.contains(name)))
    cache.dropAll()
  }

  test("destination subprocess pump delivers all records") {
    val src = new SubprocessSource("scripted", catalog, scriptedConnector(10))
    val cache = SparkCache.fresh(spark, "graft_test_pump")
    src.read(cache, spark)
    val sink = Files.createTempFile("dest-out", ".jsonl")
    val n = Destination.writeToProcess(cache, "users", "scripted",
      Seq("/bin/sh", "-c", s"cat > $sink"))
    assert(n == 10)
    val written = Files.readAllLines(sink)
    assert(written.size == 10) // no state written (none checkpointed)
    assert(written.asScala.forall(_.contains(""""type":"RECORD"""")))
    cache.dropAll()
  }

  private implicit class JList[T](l: java.util.List[T]) {
    def asScala: Seq[T] = {
      val b = Seq.newBuilder[T]
      l.forEach(e => b += e)
      b.result()
    }
  }

  test("config-change callback fires on CONTROL/CONNECTOR_CONFIG with the new config") {
    val script = Files.createTempFile("control-test", ".sh")
    val body =
      """#!/bin/sh
        |echo '{"type":"RECORD","record":{"stream":"users","data":{"id":1,"name":"u1"},"emitted_at":1700000000000}}'
        |echo '{"type":"CONTROL","control":{"type":"CONNECTOR_CONFIG","emitted_at":1700000000000,"connectorConfig":{"config":{"refresh_token":"tok-2","client_id":"abc"}}}}'
        |echo '{"type":"CONTROL","control":{"type":"OTHER_ORCHESTRATOR_THING"}}'
        |echo '{"type":"RECORD","record":{"stream":"users","data":{"id":2,"name":"u2"},"emitted_at":1700000000000}}'
        |""".stripMargin
    Files.write(script, body.getBytes("UTF-8"))
    script.toFile.setExecutable(true)
    val received = scala.collection.mutable.ArrayBuffer.empty[String]
    val src = new SubprocessSource("cb", catalog, Seq("/bin/sh", script.toString),
      configChangeCallback = Some(received += _))
    // records still flow; the CONTROL messages are a side channel
    assert(src.getRecords("users").size == 2)
    assert(received.size == 1, "only CONNECTOR_CONFIG controls fire the callback")
    assert(received.head.contains("\"refresh_token\":\"tok-2\""))
  }

  test("table statistics: one-pass counts, nulls, approx distinct") {
    val df = Seq((1L, Some("a")), (2L, None), (3L, Some("c")))
      .toDF("id", "name")
    val stats = TableStatistics.collect(df)
    assert(stats.rowCount == 3)
    val byName = stats.columns.map(c => c.name -> c).toMap
    assert(byName("id").nonNullCount == 3 && byName("id").nullCount == 0)
    assert(byName("name").nonNullCount == 2 && byName("name").nullCount == 1)
    assert(byName("id").approxDistinct >= 3)
  }
}
