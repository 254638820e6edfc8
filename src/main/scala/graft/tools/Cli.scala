package graft.tools

import org.apache.spark.sql.SparkSession

import graft.GraftSession
import graft.cache.SparkCache
import graft.mcp.LocalTools
import graft.sources.{DeclarativeSource, SmokeTest, SmokeTestSource, Source, Sources}

/**
 * The reference CLI surface (`airbyte/cli/pyab.py`: validate /
 * benchmark / sync / destination-smoke-test, plus `airbyte/validate.py`
 * full_tests = spec → check → read smoke) as one Spark-driving main:
 *
 *   runMain graft.tools.Cli validate --manifest M [--fixtures D] [--config k=v ...]
 *   runMain graft.tools.Cli sync     --manifest M [--fixtures D] [--config k=v ...]
 *                                    [--db NAME] [--streams a,b] [--strategy auto]
 *   runMain graft.tools.Cli benchmark [--records N]
 *   runMain graft.tools.Cli destination-smoke-test --db NAME --stream S --cmd "..."
 *
 * Each command is a delegation: validate = spec presence + config
 * validation against the spec + `check()` + a 1-record read probe per
 * stream (validate.py:62-91's spec/check/read sequence); sync =
 * `Source.read` into a [[SparkCache]]; benchmark = the reference-shaped
 * ingest harness ([[IngestBench]]); destination smoke = protocol replay
 * into a subprocess ([[graft.sources.Destination.writeToProcess]] —
 * called directly: the CLI is the trusted local entry point and does
 * not route through the MCP trusted-execution gate, matching the
 * reference CLI which bypasses `mcp/_guards.py`).
 */
object Cli {
  def main(args: Array[String]): Unit = {
    if (args.isEmpty) { usage(); sys.exit(2) }
    val cmd = args.head
    val opts = parseOpts(args.tail)

    def manifestSource(): Source = opts.get("source") match {
      // the built-in scripted source needs no manifest (reference
      // `get_source("source-smoke-test")`, destination_smoke_tests.py:225-230)
      case Some("smoke-test") | Some("source-smoke-test") =>
        SmokeTestSource.forScenarios(
          scenarios = opts.getOrElse("scenarios", "fast"),
          namespace = opts.get("namespace"))
      case _ =>
        val m = opts.getOrElse("manifest",
          fail("--manifest <path> is required (zero-egress build: manifest or local executable only)"))
        Sources.getSource(
          name = java.nio.file.Paths.get(m).getFileName.toString,
          manifestPath = Some(m),
          config = configOf(opts),
          fixtureRoot = opts.get("fixtures"))
    }

    cmd match {
      case "validate" =>
        val src = manifestSource()
        val spark = GraftSession.local()
        // spec: declared and parseable
        val spec = src match {
          case d: DeclarativeSource => d.specJson.getOrElse(
            fail("manifest declares no spec.connection_specification"))
          case s: SmokeTestSource => s.specJson
          case _ => fail("validate needs a declarative or smoke-test source")
        }
        println(s"[cli] spec: ok (${spec.length} chars)")
        // config validates against the spec schema
        val problems = LocalTools.validateConnectorConfig(spec, configJson(opts))
        if (problems.nonEmpty) fail("config invalid:\n  " + problems.mkString("\n  "))
        println("[cli] config: ok")
        // check + per-stream 1-record read probe (validate.py full_tests)
        src match {
          case d: DeclarativeSource => d.check()
          case s: SmokeTestSource => s.check()
          case _ => ()
        }
        println("[cli] check: ok")
        src.catalog.streamNames.foreach { s =>
          val n = LocalTools.readSourceStreamRecords(spark, src, s, limit = 1).size
          println(s"[cli] read probe '$s': $n record(s)")
        }
        println("[cli] validate: PASSED")
        spark.stop()

      case "sync" =>
        val src = manifestSource()
        val spark = GraftSession.local()
        val cache = new SparkCache(spark, opts.getOrElse("db", "graft_cache"))
        cache.reopen() // resume into tables from a previous JVM's sync
        val streams = opts.get("streams").map(_.split(',').toSeq).getOrElse(Nil)
        val strategy = graft.protocol.WriteStrategy.fromString(
          opts.getOrElse("strategy", "auto"))
        // direct capability call — the CLI is the trusted local entry
        // point; the reference CLI likewise bypasses mcp/_guards.py
        val result = src.read(cache, spark, streams, strategy)
        result.counts.toSeq.sortBy(_._1).foreach { case (s, n) =>
          println(s"[cli] synced '$s': $n records -> ${cache.tableName(s)}")
        }
        spark.stop()

      case "benchmark" =>
        val spark = GraftSession.local()
        val n = opts.getOrElse("records", "500000").toInt
        val (secs, rps, _) = IngestBench.measure(spark, n)
        println(f"[cli] benchmark: $n records in $secs%.2f s ($rps records/s)")
        spark.stop()

      case "smoke-test" =>
        // full scenario-suite smoke run against the Spark-cache
        // destination (reference `pyab destination-smoke-test`,
        // destination_smoke_tests.py:453-609)
        val spark = GraftSession.local()
        val result = SmokeTest.run(
          spark,
          scenarios = opts.getOrElse("scenarios", "fast"),
          namespaceSuffix = opts.get("namespace-suffix"),
          reuseNamespace = opts.get("reuse-namespace"),
          customScenariosFile = opts.get("custom-scenarios-file"),
          skipPreflight = opts.get("skip-preflight").exists(_.toBoolean))
        println(s"[cli] smoke-test: success=${result.success} " +
          s"namespace=${result.namespace} delivered=${result.recordsDelivered} " +
          s"elapsed=${result.elapsedSeconds}s preflight=${result.preflightPassed}")
        result.error.foreach(e => println(s"[cli]   error: $e"))
        result.tableStatistics.toSeq.sortBy(_._1).foreach { case (s, st) =>
          println(s"[cli]   $s: ${st.rowCount} rows, ${st.columns.size} columns")
        }
        result.tablesNotFound.toSeq.sortBy(_._1).foreach { case (s, t) =>
          println(s"[cli]   $s: TABLE NOT FOUND ($t)")
        }
        spark.stop()
        if (!result.success) sys.exit(1)

      case "destination-smoke-test" =>
        val spark = GraftSession.local()
        val cache = new SparkCache(spark, opts.getOrElse("db", "graft_cache"))
        cache.reopen() // tables may have been written by a previous JVM
        val stream = opts.getOrElse("stream", fail("--stream is required"))
        val shellCmd = opts.getOrElse("cmd", fail("--cmd is required"))
        // direct capability call (see `sync` note on CLI trust)
        val delivered = graft.sources.Destination.writeToProcess(
          cache, stream, "default", Seq("sh", "-c", shellCmd))
        println(s"[cli] destination-smoke-test: delivered $delivered records")
        spark.stop()

      case "sketch" =>
        // operate the streaming sketches the way the reference CLI
        // operates syncs: persist/restore/merge against cache tables
        val spark = GraftSession.local()
        val cache = new SparkCache(spark, opts.getOrElse("db", "graft_cache"))
        cache.reopen()
        println("[cli] " + runSketch(spark, cache, opts))
        spark.stop()

      case other => usage(); fail(s"unknown command '$other'")
    }
  }

  /** `sketch` command body, session-injected so LifecycleSpec can
    * drive it end-to-end without stopping the shared test session:
    *
    *   sketch --kind distinct|bloom|reservoir|trending|heavy|drift|quantile|embdrift
    *          [--db NAME] [--name N] [--op update|show|merge]
    *          [--table T --column C] [--key-column KC]
    *          [--others n1,n2] [--probe v1,v2] [--p 12] [--k 3]
    *          [--size 256] [--denom D] [--bins B]
    *
    * update folds `--table`/`--column` of the cache db into the named
    * persisted sketch; merge unions the `--others` summaries in; show
    * only restores. Every op persists (update/merge) and prints the
    * summary line. */
  private[graft] def runSketch(spark: SparkSession,
      cache: SparkCache, opts: Map[String, String]): String = {
    import graft.streaming.{StreamingBloom, StreamingDistinct, StreamingDrift,
      StreamingEmbeddingDrift, StreamingQuantiles,
      StreamingHeavyHitters, StreamingReservoir, StreamingTrending}
    import org.apache.spark.sql.functions.col
    val kind = opts.getOrElse("kind",
      fail("--kind distinct|bloom|reservoir|trending|heavy|drift|quantile|embdrift"))
    val name = opts.getOrElse("name", s"graft_sketch_$kind")
    val op = opts.getOrElse("op", "update")
    def batch(): org.apache.spark.sql.DataFrame = {
      val t = opts.getOrElse("table", fail("--table is required for --op update"))
      val c = opts.getOrElse("column", fail("--column is required for --op update"))
      spark.table(s"`${cache.database}`.`$t`").select(col(c).as("key"))
    }
    def others(): Seq[String] = opts.getOrElse("others",
      fail("--others n1,n2 is required for --op merge"))
      .split(',').map(_.trim).filter(_.nonEmpty).toSeq
    kind match {
      case "distinct" =>
        val p = opts.getOrElse("p", "12").toInt
        val sk = StreamingDistinct.restore(cache, name, p)
        op match {
          case "update" => sk.processBatch(batch()); sk.saveTo(cache, name)
          case "merge" =>
            others().foreach(o =>
              sk.merge(StreamingDistinct.restore(cache, o, p)))
            sk.saveTo(cache, name)
          case "show" => ()
          case o => fail(s"unknown sketch op '$o'")
        }
        s"sketch '$name' (hll p=$p): estimate=${sk.estimate} " +
          s"zero_registers=${sk.zeroRegisters}"
      case "bloom" =>
        val p = opts.getOrElse("p", "16").toInt
        val k = opts.getOrElse("k", "3").toInt
        val sk = StreamingBloom.restore(cache, name, p, k)
        op match {
          case "update" => sk.processBatch(batch()); sk.saveTo(cache, name)
          case "merge" =>
            others().foreach(o =>
              sk.merge(StreamingBloom.restore(cache, o, p, k)))
            sk.saveTo(cache, name)
          case "show" => ()
          case o => fail(s"unknown sketch op '$o'")
        }
        val probes = opts.get("probe").toSeq
          .flatMap(_.split(',').map(_.trim).filter(_.nonEmpty))
          .map { v =>
            val key = v.toLongOption.getOrElse(
              fail(s"--probe expects comma-separated integers, got '$v'"))
            s"$v=${sk.mightContain(key)}"
          }
        s"sketch '$name' (bloom p=$p k=$k): inserted=${sk.insertedKeys} " +
          s"set_bits=${sk.cardinality} fpp_micro=${sk.fppMicro}" +
          (if (probes.nonEmpty) s" probe{${probes.mkString(",")}}" else "")
      case "reservoir" =>
        val k = opts.getOrElse("size", "256").toInt
        val sk = StreamingReservoir.restore(cache, name, k)
        op match {
          case "update" => sk.processBatch(batch()); sk.saveTo(cache, name)
          case "merge" =>
            others().foreach(o =>
              sk.merge(StreamingReservoir.restore(cache, o, k)))
            sk.saveTo(cache, name)
          case "show" => ()
          case o => fail(s"unknown sketch op '$o'")
        }
        s"sketch '$name' (reservoir k=$k): size=${sk.size} " +
          s"distinct_estimate=${sk.distinctEstimate}"
      case "trending" =>
        // decayed heavy hitters over a TEXT column: update folds one
        // batch (halve + add), merge sums shard scores associatively
        val k = opts.getOrElse("k", "10").toInt
        val sk = StreamingTrending.restore(cache, name, "key", k)
        op match {
          case "update" => sk.processBatch(batch()); sk.saveTo(cache, name)
          case "merge" =>
            others().foreach(o =>
              sk.merge(StreamingTrending.restore(cache, o, "key", k)))
            sk.saveTo(cache, name)
          case "show" => ()
          case o => fail(s"unknown sketch op '$o'")
        }
        val tops = sk.top(k).map { case (t, s) => s"$t:$s" }
        s"sketch '$name' (trending k=$k): terms=${tops.size} " +
          s"top{${tops.mkString(",")}}"
      case "heavy" =>
        // Misra–Gries heavy hitters over a token column; --denom sets
        // the report threshold N/denom (default the summary's own k+1
        // resolution floor)
        val k = opts.getOrElse("k", "16").toInt
        val denom = opts.get("denom").map { d =>
          d.toIntOption.getOrElse(fail(s"--denom expects an integer, got '$d'"))
        }.getOrElse(k + 1)
        val sk = StreamingHeavyHitters.restore(cache, name, k)
        op match {
          case "update" =>
            sk.processBatch(batch().select(col("key").as("token")))
            sk.saveTo(cache, name)
          case "merge" =>
            others().foreach(o =>
              sk.merge(StreamingHeavyHitters.restore(cache, o, k)))
            sk.saveTo(cache, name)
          case "show" => ()
          case o => fail(s"unknown sketch op '$o'")
        }
        val hh = sk.heavyHitters(denom).map { case (t, c) => s"$t:$c" }
        s"sketch '$name' (heavy k=$k): n=${sk.n} " +
          s"counters=${sk.snapshot.size} hitters_at_n/${denom}{${hh.mkString(",")}}"
      case "drift" =>
        // PSI drift monitor: --key-column groups, --column is the
        // value; the FIRST update freezes the reference, later updates
        // report PSI against it; merge unions disjoint key shards
        val kc = opts.getOrElse("key-column",
          fail("--key-column is required for --kind drift"))
        val bins = opts.getOrElse("bins", "10").toInt
        def driftBatch(): org.apache.spark.sql.DataFrame = {
          val t = opts.getOrElse("table", fail("--table is required for --op update"))
          val c = opts.getOrElse("column", fail("--column is required for --op update"))
          spark.table(s"`${cache.database}`.`$t`")
            .select(col(kc).cast("string").as("k"), col(c).as("v"))
        }
        val sk = StreamingDrift.restore(cache, name, "k", "v", bins)
        def refKeys: Long = sk.referenceHistogram
          .map(_.select(col("k")).distinct().count()).getOrElse(0L)
        op match {
          case "update" =>
            val frozen = sk.referenceHistogram.isDefined
            val out = sk.processBatch(driftBatch())
            sk.saveTo(cache, name)
            if (!frozen)
              s"sketch '$name' (drift bins=$bins): reference frozen keys=$refKeys"
            else {
              val worst = out.orderBy(col("psi").desc, col("k").asc).limit(3)
                .collect().map(r => s"${r.getString(0)}:${r.getDouble(3)}")
              s"sketch '$name' (drift bins=$bins): keys=$refKeys " +
                s"top_psi{${worst.mkString(",")}}"
            }
          case "merge" =>
            others().foreach(o =>
              sk.merge(StreamingDrift.restore(cache, o, "k", "v", bins)))
            sk.saveTo(cache, name)
            s"sketch '$name' (drift bins=$bins): keys=$refKeys (merged)"
          case "show" =>
            s"sketch '$name' (drift bins=$bins): " +
              (if (sk.referenceHistogram.isDefined) s"frozen keys=$refKeys"
               else "unfrozen")
          case o => fail(s"unknown sketch op '$o'")
        }
      case "quantile" =>
        // exact quantile monitor over a quantized grid: --key-column
        // groups, --column is the value, --scale the grid (×scale
        // integer points); counts are additive, shard merge is exact
        val kc = opts.getOrElse("key-column",
          fail("--key-column is required for --kind quantile"))
        val scale = opts.getOrElse("scale", "100").toInt
        def quantBatch(): org.apache.spark.sql.DataFrame = {
          val t = opts.getOrElse("table", fail("--table is required for --op update"))
          val c = opts.getOrElse("column", fail("--column is required for --op update"))
          spark.table(s"`${cache.database}`.`$t`")
            .select(col(kc).cast("string").as("k"), col(c).as("v"))
        }
        val sk = StreamingQuantiles.restore(cache, name, "k", "v", scale)
        op match {
          case "update" => sk.processBatch(quantBatch()); sk.saveTo(cache, name)
          case "merge" =>
            others().foreach(o =>
              sk.merge(StreamingQuantiles.restore(cache, o, "k", "v", scale)))
            sk.saveTo(cache, name)
          case "show" => ()
          case o => fail(s"unknown sketch op '$o'")
        }
        val qline = sk.quantiles(Seq(0.5, 0.9, 0.99)).collect()
          .groupBy(_.getString(0)).toSeq.sortBy(_._1).take(3)
          .map { case (k, rows) =>
            val m = rows.map(r => r.getDouble(1) -> r.getDouble(2)).toMap
            s"$k{p50=${m(0.5)},p90=${m(0.9)},p99=${m(0.99)}}"
          }
        s"sketch '$name' (quantile scale=${sk.scale}): n=${sk.n} " +
          qline.mkString(",")
      case "embdrift" =>
        // embedding-space drift: --column is an array<float> vector
        // column; the FIRST update freezes the reference Gram, later
        // updates report the top-component cosine against it
        val dim = opts.getOrElse("dim", "64").toInt
        def embBatch(): org.apache.spark.sql.DataFrame = {
          val t = opts.getOrElse("table", fail("--table is required for --op update"))
          val c = opts.getOrElse("column", fail("--column is required for --op update"))
          spark.table(s"`${cache.database}`.`$t`").select(col(c).as("v"))
        }
        val sk = StreamingEmbeddingDrift.restore(cache, name, "v", dim)
        op match {
          case "update" => sk.processBatch(embBatch()); sk.saveTo(cache, name)
          case "merge" =>
            others().foreach(o =>
              sk.merge(StreamingEmbeddingDrift.restore(cache, o, "v", dim)))
            sk.saveTo(cache, name)
          case "show" => ()
          case o => fail(s"unknown sketch op '$o'")
        }
        sk.report() match {
          case Some(r) =>
            s"sketch '$name' (embdrift d=${sk.d}): n=${r.nCur} " +
              f"ref_n=${r.nRef} cosine=${r.cosine}%.4f " +
              s"var_ref_micro=${r.refVarExplainedMicro} " +
              s"var_cur_micro=${r.curVarExplainedMicro}"
          case None => s"sketch '$name' (embdrift d=${sk.d}): unfrozen"
        }
      case o => fail(s"unknown sketch kind '$o'")
    }
  }

  /** `--k v` pairs plus repeatable `--config k=v` collected under "config". */
  private def parseOpts(args: Array[String]): Map[String, String] = {
    val out = scala.collection.mutable.Map[String, String]()
    var i = 0
    while (i < args.length) {
      val a = args(i)
      if (!a.startsWith("--")) fail(s"unexpected argument '$a'")
      val k = a.stripPrefix("--")
      val v = if (i + 1 < args.length) args(i + 1) else fail(s"$a needs a value")
      if (k == "config") out("config") = out.getOrElse("config", "") + "\u0000" + v
      else out(k) = v
      i += 2
    }
    out.toMap
  }

  private def configOf(opts: Map[String, String]): Map[String, String] =
    opts.get("config").toSeq
      .flatMap(_.split('\u0000').filter(_.nonEmpty))
      .map { kv => val Array(k, v) = kv.split("=", 2); (k, v) }.toMap

  private def configJson(opts: Map[String, String]): String = {
    val m = new com.fasterxml.jackson.databind.ObjectMapper()
    val node = m.createObjectNode()
    configOf(opts).foreach { case (k, v) => node.put(k, v) }
    node.toString
  }

  private def usage(): Unit = println(
    """usage: Cli <validate|sync|benchmark|smoke-test|destination-smoke-test> [--opt value ...]
      |  validate (--manifest M [--fixtures D] [--config k=v ...] | --source smoke-test [--scenarios fast|all|names])
      |  sync (--manifest M [--fixtures D] [--config k=v ...] | --source smoke-test [--scenarios ...]) [--db NAME] [--streams a,b] [--strategy auto|append|replace|merge]
      |  benchmark [--records N]
      |  smoke-test [--scenarios fast|all|names] [--namespace-suffix S] [--reuse-namespace NS] [--custom-scenarios-file F] [--skip-preflight true]
      |  destination-smoke-test --db NAME --stream S --cmd "shell command"
      |  sketch --kind distinct|bloom|reservoir|trending|heavy|drift|quantile|embdrift [--db NAME] [--name N] [--op update|show|merge] [--table T --column C] [--key-column KC] [--others n1,n2] [--probe v1,v2] [--p P] [--k K] [--size N] [--denom D] [--bins B] [--scale S] [--dim D]""".stripMargin)

  private def fail(msg: String): Nothing = {
    System.err.println(s"[cli] ERROR: $msg")
    throw new IllegalArgumentException(msg)
  }
}
