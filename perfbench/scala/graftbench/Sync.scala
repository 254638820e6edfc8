package graftbench

import scala.collection.mutable

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.cache.SparkCache
import graft.operators.{Records, WriteStrategies}
import graft.protocol.{ConfiguredCatalog, WriteStrategy}
import graft.sources.JsonlSource

/**
 * sync: one sync caller's schedule, once per round.
 *
 *  1. A full-refresh `JsonlSource.read` of one protocol file that
 *     interleaves lineitem, orders, events and documents with STATE and
 *     LOG lines. `read` asks for the file's lines once per stream, right
 *     before normalizing it, so the timestamps of those calls split the
 *     read into per-stream spans from outside. An op is one stream.
 *  2. [[Batches]] incremental lineitem batches (PK l_orderkey,
 *     l_linenumber). An op merges one with `WriteStrategy.Merge`,
 *     checkpoints its cursor with `writeState` and reads it back with
 *     `latestState`.
 *
 * The full refresh resets lineitem, so every round merges the same
 * batches onto the same table. Batch b is a pure function of the expected
 * table after batch b-1: ~5% of keys get new values, a few hot keys get
 * [[HotRepeats]] versions each (only the last may win), and ~0.05% of
 * keys are copied under new order keys. The same function advances the
 * expected table, so the checks never consult the code under test.
 */
final class Sync(spark: SparkSession, gen: Gen, root: String, rec: Recorder,
    parts: Int) extends Workload {
  import Sync._

  private val pks = Seq("l_orderkey", "l_linenumber")
  private val frames: Seq[(String, DataFrame, Seq[String])] = Seq(
    ("lineitem", gen.lineitem(Share), pks),
    ("orders", gen.share(gen.orders, Seq("o_orderkey"), Share), Seq("o_orderkey")),
    ("events", gen.share(gen.events, Seq("event_id"), Share), Seq("event_id")),
    ("documents", gen.share(gen.documents, Seq("doc_id"), Share), Seq("doc_id")))
    .map { case (n, df, key) => (n, df.localCheckpoint(), key) }
  private val cols = frames.head._2.columns.toSeq
  private val catalog: ConfiguredCatalog = Gen.catalog(frames.map { case (n, df, key) =>
    Gen.stream(n, df, if (n == Lineitem) pks else Nil) }: _*)
  private val file = s"$root/input/protocol.jsonl"
  val cacheDir = s"$root/cache.db"
  private var cache: SparkCache = _
  var inputBytes = 0L

  /** An incremental batch: its file, line count and the lineitem table
    * expected after merging it. */
  private final case class Batch(b: Int, file: String, records: Long, after: DataFrame)
  private var batches = Seq.empty[Batch]
  private var expected = Map.empty[String, (Long, Long)]
  private var expectedAfter = Seq.empty[(Long, Long)]

  private def key: Seq[Column] = pks.map(col)

  /** Batch `b`'s rows (typed, with emitted_at) and the table after it. */
  private def step(prev: DataFrame, b: Int): (DataFrame, DataFrame) = {
    val hot = gen.pick(HotMod, s"hot$b", key: _*)
    val upd = gen.pick(20, s"upd$b", key: _*) && !hot
    val fresh = gen.pick(2000, s"new$b", key: _*) && col("l_orderkey") < NewKeyStride
    // version `occ` of a row in batch b
    def version(occ: Column): Seq[Column] = cols.map {
      case "l_quantity" =>
        (pmod(gen.h(lit(s"q$b"), col("l_orderkey"), col("l_linenumber"), occ), lit(50L)) + 1)
          .cast(DoubleType)
      case "l_extendedprice" =>
        col("l_extendedprice") + pmod(gen.h(lit(s"p$b"), occ), lit(1000L)) / 100.0
      case "l_returnflag" => lit(s"U$b")
      case c => col(c)
    }
    def emit(df: DataFrame, occ: Column): DataFrame = df.select(
      cols.zip(version(occ)).map { case (c, v) => v.as(c) } :+
        (lit(emitted(b)) + occ).as("emitted_at"): _*)
    val plain = lit(HotRepeats.toLong)
    val news = emit(prev.filter(fresh)
      .withColumn("l_orderkey", col("l_orderkey") + (b + 1) * NewKeyStride), plain)
    val rows = emit(prev.filter(upd), plain)
      .unionByName(emit(prev.filter(hot)
        .withColumn("occ", explode(sequence(lit(0L), lit(HotRepeats - 1L)))), col("occ")))
      .unionByName(news)
    // the expected table: touched keys hold their last version (the
    // highest occurrence for hot keys), new keys are appended
    val last = version(when(hot, lit(HotRepeats - 1L)).otherwise(plain))
    val next = prev.select(cols.zip(last).map { case (c, v) =>
      when(hot || upd, v).otherwise(col(c)).as(c) }: _*)
    (rows, next.unionByName(news.drop("emitted_at")))
  }

  /** Batch b's versions are emitted after the full refresh's records. */
  private def emitted(b: Int): Long = Gen.Emitted0 + (b + 1) * 1000000L

  private def cursor(r: Int, b: Int): String =
    s"""{"cursor":${emitted(b) + HotRepeats},"round":$r,"batch":$b,"seed":${gen.seed}}"""

  def generate(): Unit = {
    val lines = frames.map { case (n, df, key) =>
      gen.records(n, df, df.columns, key.map(col),
        lit(Gen.Emitted0) + pmod(gen.h(key.map(col): _*), lit(1000000L)))
    } :+ gen.controlLines(frames.map(_._1), 200)
    inputBytes = gen.writeFile(lines.reduce(_ unionByName _), file, parts, interleave = true)
    var table = frames.head._2
    batches = (0 until Batches).map { b =>
      val (rows, next) = step(table, b)
      val f = s"$root/input/batch$b.jsonl"
      gen.writeFile(gen.records(Lineitem, rows, cols, (pks :+ "emitted_at").map(col),
        col("emitted_at")), f, parts)
      table = next.localCheckpoint()
      Batch(b, f, Gen.lineCount(f), table)
    }
    cache = SparkCache.fresh(spark, "bench_sync", location = Some(cacheDir))
  }

  def prepareChecks(): Unit = {
    val sums = Gen.checksums(frames.map { case (_, df, _) => df -> df.columns.toSeq } ++
      batches.map(_.after -> cols)).map(rec.expect)
    expected = frames.map(_._1).zip(sums).toMap
    expectedAfter = sums.drop(frames.size)
  }

  def round(r: Int): Unit = {
    fullRefresh(r)
    batches.foreach(merge(r, _))
  }

  private def fullRefresh(r: Int): Unit = {
    val marks = mutable.ArrayBuffer.empty[Long]
    val source = new JsonlSource("bench", catalog, s => {
      marks += System.nanoTime(); s.read.textFile(file)
    })
    val records = expected.values.map(_._1).sum
    var t0, t1 = 0L
    val (_, wall) = rec.timed(records) {
      t0 = System.nanoTime()
      source.read(cache, spark, forceFullRefresh = true)
      t1 = System.nanoTime()
    }
    val bounds = marks.toSeq :+ t1
    val spans = frames.indices.map(i => (bounds(i + 1) - bounds(i)) / 1e9)
    rec.syncRecords += records
    rec.syncBytes += inputBytes
    rec.syncS += wall
    rec.layer("cache.register_s", (marks.head - t0) / 1e9)
    if (rec.tracing) traceFull(spans)
    val got = Gen.checksums(frames.map { case (n, df, _) => cache.table(n) -> df.columns.toSeq })
    rec.ops(frames.zip(spans).zip(got).map { case (((n, _, _), dt), g) =>
      dt -> Option.when(g != expected(n))(s"$n: (rows, checksum) $g, expected ${expected(n)}")
    }, s"round $r full refresh")
  }

  private def merge(r: Int, batch: Batch): Unit = {
    val source = new JsonlSource("bench", catalog, s => s.read.textFile(batch.file))
    val normS = if (rec.tracing) traceBatch(batch.file) else 0.0
    val want = cursor(r, batch.b)
    var syncS, writeS, readS = 0.0
    val (state, dt) = rec.timed(batch.records) {
      val t0 = System.nanoTime()
      source.read(cache, spark, Seq(Lineitem), WriteStrategy.Merge)
      val t1 = System.nanoTime()
      cache.writeState("bench", Lineitem, want)
      val t2 = System.nanoTime()
      val s = cache.latestState("bench", Lineitem)
      val t3 = System.nanoTime()
      syncS = (t1 - t0) / 1e9; writeS = (t2 - t1) / 1e9; readS = (t3 - t2) / 1e9
      s
    }
    rec.syncRecords += batch.records
    rec.syncBytes += java.nio.file.Files.size(java.nio.file.Paths.get(batch.file))
    rec.syncS += syncS
    rec.layer("cache.merge_s", syncS - normS)
    rec.layer("cache.state_write_s", writeS)
    rec.layer("cache.state_read_s", readS)
    val got = Gen.checksum(cache.table(Lineitem), cols)
    val exp = expectedAfter(batch.b)
    rec.ops(Seq(dt -> (
      if (!state.contains(want)) Some(s"state read back $state, expected $want")
      else Option.when(got != exp)(s"(rows, checksum) $got, expected $exp"))),
      s"round $r batch ${batch.b}")
  }

  /** Prefix differencing, one probe per layer boundary: reading the file,
    * then reading + normalizing it into a no-op sink. What the stream's
    * sync spent beyond that is commit. */
  private def traceFull(spans: Seq[Double]): Unit = {
    val (_, readS, _) = rec.probe(spark.read.textFile(file).count())
    frames.zip(spans).foreach { case ((n, _, _), span) =>
      val normS = normalizeProbe(file, n)
      rec.layer("sources.read_s", readS)
      rec.layer("records.normalize_s", normS - readS)
      rec.layer("cache.commit_s", span - normS)
    }
  }

  /** The same probes on a batch, plus the skew probe on the union the
    * merge will dedup, run on its own (the cache memoizes its verdict per
    * table). Returns the read + normalize prefix time. */
  private def traceBatch(batchFile: String): Double = {
    val (_, readS, _) = rec.probe(spark.read.textFile(batchFile).count())
    val normS = normalizeProbe(batchFile, Lineitem)
    val normalized = Records.normalizeProtocol(
      spark.read.textFile(batchFile), Lineitem, catalog(Lineitem).parseSchema)
    val (_, skewS, _) = rec.probe(WriteStrategies.probeSkew(
      cache.table(Lineitem).unionByName(normalized, allowMissingColumns = true), pks))
    rec.layer("sources.read_s", readS)
    rec.layer("records.normalize_s", normS - readS)
    rec.layer("cache.skew_probe_s", skewS)
    normS
  }

  private def normalizeProbe(f: String, stream: String): Double = {
    val (_, s, counts) = rec.probe(
      Records.normalizeProtocol(spark.read.textFile(f), stream, catalog(stream).parseSchema)
        .write.format("noop").mode("overwrite").save())
    rec.layer("records.bytes_parsed", counts.getOrElse("input_bytes", 0.0))
    s
  }
}

object Sync {
  val Lineitem = "lineitem"
  /** Each stream is a seeded 1/Share of its sf table. */
  val Share = 4L
  val Batches = 2
  val HotRepeats = 64
  val HotMod = 15000L
  val NewKeyStride = 10000000L
}
