package graftbench

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession

/** One benchmark workload. Setup is `generate` (timed), `prepareChecks`
  * (untimed: expectations only), then `warmup` (timed). */
trait Workload {
  def generate(): Unit
  def prepareChecks(): Unit
  /** Untimed ops that bring the JVM and caches to steady state. */
  def warmup(): Unit = round(-1)
  /** One round of the workload's op plan; ops land in the recorder. */
  def round(r: Int): Unit
  /** Protocol bytes of one full image of the synced data. */
  def inputBytes: Long
  def cacheDir: String
}

/**
 * Benchmark JVM. Runs one workload against graft's public APIs and writes
 * its figures as JSON to `--out`; `perfbench/run.py` adds the oracle
 * check and prints the result line.
 *
 *   graftbench.Main --workload W --seed N --seconds S --trace 0|1
 *     --cores C --root DIR --sf DIR --warm-sf DIR --out FILE
 *     --wrong-expectation 0|1   (1: self-test, every check must fail)
 */
object Main {
  def main(argv: Array[String]): Unit = {
    val a = argv.grouped(2).map(p => p(0).stripPrefix("--") -> p(1)).toMap
    val root = a("root")
    val cores = a("cores").toInt
    val seed = a("seed").toLong
    val trace = a("trace") == "1"
    val load0 = loadAvg()

    val t0 = System.nanoTime()
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", s"$root/warehouse")
      .config("spark.local.dir", s"$root/spark-local")
      .config("graft.sa.persist", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionS = secs(t0)
    try {
      Files.createDirectories(Paths.get(s"$root/input"))
      val gen = new Gen(spark, a("sf"), seed)
      val cacheDir = s"$root/cache.db"
      val rec = new Recorder(spark.sparkContext, cacheDir, a("wrong-expectation") == "1")
      val t1 = System.nanoTime()
      val wl: Workload = a("workload") match {
        case "sync" => new Sync(spark, gen, root, rec, cores)
        case "query_mix" => new QueryMix(spark, gen, a("sf"), a("warm-sf"), root, rec, cores)
        case w => throw new IllegalArgumentException(s"unknown workload $w")
      }
      wl.generate()
      val generateS = secs(t1)
      wl.prepareChecks()
      val t2 = System.nanoTime()
      wl.warmup()
      val warmupS = secs(t2)
      // warm-up ops are checked like any other but not timed
      val (warmAttempted, warmFailed) = (rec.attempted, rec.failed)
      val failures = rec.failures.clone()
      rec.reset()

      // timed phase: whole rounds until --seconds of wall time have passed
      val seconds = a("seconds").toDouble
      var rounds = 0
      val t3 = System.nanoTime()
      val roundS = scala.collection.mutable.ArrayBuffer.empty[Double]
      while (rounds == 0 || secs(t3) < seconds) {
        val w0 = rec.workS
        wl.round(rounds)
        roundS += rec.workS - w0
        rounds += 1
      }
      val lat = rec.latencies.toSeq
      val out = new Json
      val (tailS, tailPct) = tail(lat)
      val (syncRecords, syncS) = wl match {
        case q: QueryMix => (q.setupRecords, q.setupSyncS)
        case _ => (rec.syncRecords, rec.syncS)
      }
      val endToEnd = Seq(
        "setup_s" -> (sessionS + generateS + warmupS),
        "run_s" -> rec.workS / rounds,
        "records_per_s" -> syncRecords / syncS,
        "op_p50_s" -> Recorder.median(lat),
        "stored_bytes_per_input_byte" -> Recorder.bytesUnder(wl.cacheDir).toDouble / wl.inputBytes,
        "peak_rss_mb" -> peakRssMb())
      var attempted = warmAttempted + rec.attempted
      var failed = warmFailed + rec.failed
      failures ++= rec.failures
      val extra = Seq("op_tail_s" -> tailS,
        "op_tail_pct" -> tailPct, "ops" -> lat.size.toDouble, "rounds" -> rounds.toDouble)

      val perLayer: Seq[(String, Double)] = if (!trace) Nil else {
        // same op plan again, traced; the difference is tracing overhead
        val untracedPerRound = rec.workS / rounds
        rec.reset()
        rec.startTrace()
        for (r <- rounds until 2 * rounds) wl.round(r)
        rec.stopTrace()
        attempted += rec.attempted
        failed += rec.failed
        failures ++= rec.failures
        val ops = math.max(1L, rec.attempted).toDouble
        val l = rec.layers
        val e = rec.engine
        def ratio(x: Double, y: Double) = if (y > 0) x / y else 0.0
        val moduleLayers = QueryMix.Queries.map(_._2).distinct.map(m => s"queries.${m}_s")
        (Seq("sources.read_s", "records.normalize_s").map(k => k -> l(k) / rounds) ++
          Seq("records.bytes_parsed_per_input_byte" -> ratio(l("records.bytes_parsed"), rec.syncBytes)) ++
          Seq("cache.commit_s", "cache.register_s", "cache.merge_s", "cache.skew_probe_s",
            "cache.state_write_s", "cache.state_read_s").map(k => k -> l(k) / rounds) ++
          Seq("cache.bytes_written_per_record" -> ratio(rec.bytesWritten, rec.recordsWritten),
            "cache.files_written" -> rec.filesWritten.toDouble / rounds) ++
          (Seq("datasets.filter_count_s", "datasets.take_s", "datasets.iterator_s",
            "datasets.arrow_s") ++ moduleLayers).map(k => k -> l(k) / rounds) ++
          Seq("spark.jobs_per_op" -> e("jobs") / ops, "spark.stages_per_op" -> e("stages") / ops,
            "spark.tasks_per_op" -> e("tasks") / ops, "spark.shuffle_bytes" -> e("shuffle_bytes") / ops,
            "spark.spill_bytes" -> e("spill_bytes") / ops,
            "spark.scheduler_delay_s" -> e("sched_delay_s") / ops,
            "spark.executor_run_s" -> e("run_s") / ops,
            "spark.busy_ratio" -> ratio(e("run_s"), rec.workS * cores),
            "setup.session_s" -> sessionS, "setup.generate_s" -> generateS,
            "setup.warmup_s" -> warmupS,
            "trace.overhead_s" -> (rec.workS / rounds - untracedPerRound)))
      }

      val sc = spark.sparkContext
      out.obj("attempted", attempted).obj("failed", failed)
      out.map("metrics", endToEnd ++ perLayer)
      out.raw("failures", failures.map(Json.quote).mkString("[", ",", "]"))
      out.map("extra", extra)
      out.strings("info", Seq(
        "workload" -> a("workload"), "seed" -> seed.toString,
        "nproc" -> cores.toString, "master" -> sc.master,
        "default_parallelism" -> sc.defaultParallelism.toString,
        "load1_start" -> load0.toString, "load1_end" -> loadAvg().toString,
        "trace" -> trace.toString, "round_s" -> roundS.map(x => f"$x%.3f").mkString(" ")))
      wl match {
        case q: QueryMix => out.raw("queries", q.queryOps.map { case (n, (ops, bad)) =>
          s"${Json.quote(n)}:{\"ops\":$ops,\"failed\":$bad}" }.mkString("{", ",", "}"))
        case _ =>
      }
      Files.writeString(Paths.get(a("out")), out.render)
    } finally spark.stop()
  }

  def secs(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  /** The highest percentile with at least ten samples above it (NaN, so
    * null in the output, below 11 samples). */
  def tail(xs: Seq[Double]): (Double, Double) =
    if (xs.size < 11) (Double.NaN, Double.NaN)
    else {
      val s = xs.sorted
      (s(s.size - 11), 100.0 * (s.size - 10) / s.size)
    }

  def loadAvg(): Double =
    new String(Files.readAllBytes(Paths.get("/proc/loadavg")), "UTF-8").split("\\s+")(0).toDouble

  /** VmHWM of this JVM in MB. */
  def peakRssMb(): Double = {
    val line = scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).get
    line.split("\\s+")(1).toDouble / 1024
  }
}

/** Minimal JSON object writer. */
final class Json {
  private val fields = scala.collection.mutable.ArrayBuffer.empty[String]
  def obj(k: String, v: Long): Json = raw(k, v.toString)
  def raw(k: String, v: String): Json = { fields += s"${Json.quote(k)}:$v"; this }
  def map(k: String, kv: Seq[(String, Double)]): Json = raw(k,
    kv.map { case (n, v) => s"${Json.quote(n)}:${Json.num(v)}" }.mkString("{", ",", "}"))
  def strings(k: String, kv: Seq[(String, String)]): Json = raw(k,
    kv.map { case (n, v) => s"${Json.quote(n)}:${Json.quote(v)}" }.mkString("{", ",", "}"))
  def render: String = fields.mkString("{", ",", "}")
}

object Json {
  def quote(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  def num(v: Double): String = if (v.isNaN || v.isInfinite) "null" else v.toString
}

/** Dumps the oracle SQL of the query_mix queries as JSON:
  * {"queries": {name: module}, "sql": {name: sql}}. */
object OracleSql {
  def main(argv: Array[String]): Unit = {
    val qs = QueryMix.Queries
    val sql = graft.SparkEntry.oracleSql
    val body = new Json()
      .raw("queries", qs.map { case (q, m) => s"${Json.quote(q)}:${Json.quote(m)}" }.mkString("{", ",", "}"))
      .raw("sql", qs.map { case (q, _) => s"${Json.quote(q)}:${Json.quote(sql(q))}" }.mkString("{", ",", "}"))
    Files.writeString(Paths.get(argv(0)), body.render)
  }
}
