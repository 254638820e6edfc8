package graftbench

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.SparkEntry
import graft.cache.SparkCache
import graft.datasets.CachedDataset
import graft.protocol.{ConfiguredCatalog, WriteStrategy}
import graft.sources.JsonlSource

/**
 * query_mix: an analyst's closed loop over read-only `SparkEntry.queries`
 * at the sf scale, interleaved with `CachedDataset` calls on an events
 * table that setup synced through `JsonlSource` in [[SetupBatches]]
 * Append batches. A round is a seeded order of every query in [[Queries]]
 * plus [[CallsPerKind]] calls of each dataset kind.
 *
 * Checks: a query's first result in a run is dumped for the DuckDB oracle
 * compare (done by the runner after the JVM exits); every later run of
 * it must reproduce the first result's digest. Dataset calls are checked
 * against counts and sums taken from the generator's frame.
 */
final class QueryMix(spark: SparkSession, gen: Gen, sf: String, warmSf: String,
    root: String, rec: Recorder, cores: Int) extends Workload {
  import QueryMix._

  private val Stream = "events"
  private val events = gen.share(gen.events, Seq("event_id"), 4).localCheckpoint()
  private val catalog: ConfiguredCatalog = Gen.catalog(Gen.stream(Stream, events))
  val cacheDir = s"$root/cache.db"
  private var cache: SparkCache = _
  var inputBytes = 0L
  var setupRecords = 0L
  var setupSyncS = 0.0

  /** A dataset call's filter: event type, user_id modulus and remainder. */
  private final case class Filter(t: String, m: Int, r: Int) {
    def sql: String = s"event_type = '$t' AND user_id % $m = $r"
    def col = org.apache.spark.sql.functions.expr(sql)
  }
  private var filters: IndexedSeq[Filter] = _
  private var expected = Map.empty[Filter, (Long, Long)]
  private var total = 0L
  private val digests = mutable.Map.empty[String, String]
  val queryOps = mutable.LinkedHashMap.empty[String, (Int, Int)].withDefaultValue((0, 0))

  def generate(): Unit = {
    cache = SparkCache.fresh(spark, "bench_mix", location = Some(cacheDir))
    val batch = pmod(gen.h(lit("batch"), col("event_id")), lit(SetupBatches.toLong))
    val source = (f: String) => new JsonlSource("bench", catalog, s => s.read.textFile(f))
    for (b <- 0 until SetupBatches) {
      val file = s"$root/input/events$b.jsonl"
      val rows = events.filter(batch === b)
      inputBytes += gen.writeFile(gen.records(Stream, rows, events.columns,
        Seq(col("event_id")), lit(Gen.Emitted0 + b)), file, cores)
      val t0 = System.nanoTime()
      source(file).read(cache, spark, writeStrategy = WriteStrategy.Append)
      setupSyncS += (System.nanoTime() - t0) / 1e9
      cache.writeState("bench", Stream, s"""{"batch":$b}""")
    }
  }

  def prepareChecks(): Unit = {
    val want = Gen.checksum(events, events.columns)
    val got = Gen.checksum(cache.table(Stream), events.columns)
    require(got == want, s"setup sync: (rows, checksum) $got, expected $want")
    total = rec.expect(want)._1
    setupRecords = want._1
    val types = events.select("event_type").distinct().collect().map(_.getString(0)).sorted
    filters = (0 until 8).map { i =>
      val m = 3 + i % 5
      Filter(types(i % types.length), m, i % m)
    }
    val aggs = filters.flatMap { f =>
      Seq(count(when(f.col, lit(1))), coalesce(sum(when(f.col, col("event_id"))), lit(0L)))
    }
    val r = events.agg(aggs.head, aggs.tail: _*).head()
    expected = filters.zipWithIndex.map { case (f, i) =>
      f -> rec.expect((r.getLong(2 * i), r.getLong(2 * i + 1))) }.toMap
  }

  /** Every query once on the smallest tables, `cores` at a time (plan,
    * codegen and JIT costs hardly depend on scale), then each dataset
    * call once. The first timed run of a query is the one the oracle
    * checks. */
  override def warmup(): Unit = {
    val pool = java.util.concurrent.Executors.newFixedThreadPool(cores)
    try {
      val runs = Queries.map { case (q, _) =>
        pool.submit(new Runnable {
          def run(): Unit = SparkEntry.queries(q)(spark, warmSf).collect()
        })
      }
      runs.foreach(_.get())
    } finally pool.shutdown()
    datasetCalls(0).foreach(c => c.run()())
  }

  /** A timed call returns its check, which runs after the clock stops. */
  private final case class Call(kind: String, label: String, run: () => () => Option[String])

  private def dataset = new CachedDataset(cache, Stream)

  /** [[CallsPerKind]] calls of each dataset kind, parameters drawn by
    * seed and round. */
  private def datasetCalls(r: Int): Seq[Call] = {
    val rnd = new scala.util.Random(gen.seed * 1000003L + r)
    def f = filters(rnd.nextInt(filters.size))
    (0 until CallsPerKind).flatMap { _ =>
      val (a, b, c) = (f, f, f)
      Seq(
        Call("datasets.filter_count_s", s"filter_count(${a.sql})", () => {
          val n = dataset.withFilter(a.sql).count()
          () => Option.when(n != expected(a)._1)(s"count $n, expected ${expected(a)._1}")
        }),
        Call("datasets.take_s", s"take(${b.sql})", () => {
          val rows = dataset.withFilter(b.sql).take(TakeRows)
          () => {
            val want = math.min(TakeRows.toLong, expected(b)._1)
            val bad = rows.count(row => row.getAs[String]("event_type") != b.t ||
              row.getAs[Long]("user_id") % b.m != b.r)
            Option.when(rows.length != want || bad > 0)(
              s"${rows.length} rows ($bad off-filter), expected $want")
          }
        }),
        Call("datasets.iterator_s", s"iterator(${c.sql})", () => {
          var n, sum = 0L
          dataset.withFilter(c.sql).iterator().foreach { row =>
            n += 1; sum += row.getAs[Long]("event_id") }
          () => Option.when((n, sum) != expected(c))(
            s"(rows, sum) ${(n, sum)}, expected ${expected(c)}")
        }),
        Call("datasets.arrow_s", "toArrowBatches", () => {
          val n = dataset.toArrowBatches().map(arrowRows).sum().toLong
          () => Option.when(n != total)(s"$n rows in arrow batches, expected $total")
        }))
    }
  }

  private def queryCall(q: String, module: String): Call =
    Call(s"queries.${module}_s", q, () => {
      val df = SparkEntry.queries(q)(spark, sf)
      val rows = df.collect()
      () => checkQuery(q, df, rows)
    })

  def round(r: Int): Unit = {
    val rnd = new scala.util.Random(gen.seed * 7919L + r)
    val calls = rnd.shuffle(Queries.map { case (q, m) => queryCall(q, m) } ++ datasetCalls(r + 1))
    calls.foreach { c =>
      val (check, dt) = rec.timed() {
        try c.run() catch { case e: Exception => () => Some(e.toString) }
      }
      rec.layer(c.kind, dt)
      val err = try check() catch { case e: Exception => Some(e.toString) }
      if (c.kind.startsWith("queries.")) {
        val (n, bad) = queryOps(c.label)
        queryOps(c.label) = (n + 1, bad + err.size)
      }
      rec.ops(Seq(dt -> err), s"query_mix ${c.label}")
    }
  }

  /** The first result of `q` is dumped for the oracle; later ones must
    * reproduce its digest. */
  private def checkQuery(q: String, df: DataFrame, rows: Array[Row]): Option[String] = {
    val d = digest(df.schema.fieldNames.toSeq, rows)
    digests.get(q) match {
      case None =>
        digests(q) = d
        spark.createDataFrame(java.util.Arrays.asList(rows: _*), df.schema)
          .coalesce(1).write.mode("overwrite").parquet(s"$root/results/$q")
        None
      case Some(first) => Option.when(first != d)(s"result digest differs from this run's first")
    }
  }
}

object QueryMix {
  val SetupBatches = 3
  val TakeRows = 20
  /** Enough dataset calls that the median op is one of them: with fewer,
    * the median falls in the gap between the dataset calls and the
    * cheapest queries, and moves with every small shift. */
  val CallsPerKind = 5

  /** One cheap query from every module of the bench headline set minus
    * the pipeline writers, each module named by its query object. */
  val Queries: Seq[(String, String)] = Seq(
    "q5_topk" -> "CoreQueries",
    "q35_cosine_topk" -> "LlmQueries",
    "q53_percentiles" -> "AnalyticsQueries",
    "q60_kmeans_iter" -> "ClusterQueries",
    "q91_dup_inflation" -> "CurationQueries",
    "q88_bigram_pmi" -> "StatsQueries",
    "q218_cluster_split" -> "CorpusQueries",
    "q132_embed_corr" -> "PretrainQueries",
    "q179_jpeg_decode" -> "MediaQueries",
    "q165_winnowing" -> "SuffixQueries",
    "q173_ranking_metrics" -> "RetrievalQueries",
    "q260_minhash_calibration" -> "DedupAuditQueries")

  /** Rows in one self-describing Arrow IPC batch, read from its record
    * batch header without decoding the body. */
  def arrowRows(batch: Array[Byte]): Long = {
    import org.apache.arrow.vector.ipc.ReadChannel
    import org.apache.arrow.vector.ipc.message.MessageSerializer
    val ch = new ReadChannel(java.nio.channels.Channels.newChannel(
      new java.io.ByteArrayInputStream(batch)))
    MessageSerializer.deserializeSchema(ch)
    val msg = MessageSerializer.readMessage(ch).getMessage
    msg.header(new org.apache.arrow.flatbuf.RecordBatch())
      .asInstanceOf[org.apache.arrow.flatbuf.RecordBatch].length()
  }

  /** Order-independent digest: columns sorted by name, rows rendered and
    * sorted, then hashed. */
  def digest(names: Seq[String], rows: Array[Row]): String = {
    val order = names.zipWithIndex.sortBy(_._1).map(_._2)
    def render(v: Any): String = v match {
      case null => "∅"
      case a: scala.collection.Seq[_] => a.map(render).mkString("[", ",", "]")
      case a: Array[Byte] => java.util.Base64.getEncoder.encodeToString(a)
      case m: scala.collection.Map[_, _] => m.toSeq.map { case (k, x) => render(k) + ":" + render(x) }.sorted.mkString("{", ",", "}")
      case r: Row => r.toSeq.map(render).mkString("(", ",", ")")
      case d: java.math.BigDecimal => d.toPlainString
      case x => x.toString
    }
    val lines = rows.map(r => order.map(i => render(r.get(i))).mkString("\u0001")).sorted
    val md = java.security.MessageDigest.getInstance("SHA-256")
    lines.foreach(l => md.update((l + "\n").getBytes("UTF-8")))
    md.digest().map("%02x".format(_)).mkString
  }
}
