package graftbench

import java.nio.file.{Files, Paths, StandardOpenOption}

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.protocol.{ConfiguredCatalog, ConfiguredStream}
import graft.sources.Tables

/**
 * Input generator: turns the read-only sf tables into connector protocol
 * files. Every choice is a hash of the seed and the row key, so the same
 * seed gives byte-identical inputs. The typed frames the lines are made
 * from are also the expectations the checks compare against; they never
 * pass through the code under test.
 */
final class Gen(spark: SparkSession, sf: String, val seed: Long) {
  import Gen._

  /** Seeded 64-bit hash of `parts`. */
  def h(parts: Column*): Column = xxhash64((lit(seed) +: parts): _*)

  /** True for about one row in `n`, chosen by `tag` and the key. */
  def pick(n: Long, tag: String, key: Column*): Column =
    pmod(h((lit(tag) +: key): _*), lit(n)) === 0

  private def ms(c: String): Column = date_trunc("millisecond", col(c))

  // -- the four synced streams, each with ~2% seeded perturbed rows --

  /** A seeded 1/n of lineitem with (l_orderkey, l_linenumber) made a
    * key: the sf tables repeat line numbers within an order, so they are
    * renumbered. */
  def lineitem(n: Long): DataFrame = {
    val k = Seq(col("l_orderkey"), col("l_linenumber"))
    val hit = pick(50, "li", k: _*)
    val li = Tables.lineitem(spark, sf).filter(pick(n, "share", k: _*))
    val order = org.apache.spark.sql.expressions.Window.partitionBy("l_orderkey")
      .orderBy(li.columns.filter(_ != "l_orderkey").map(col).toSeq: _*)
    li.withColumn("l_linenumber", row_number().over(order))
      .withColumn("l_quantity", when(hit,
        col("l_quantity") + pmod(h((lit("q") +: k): _*), lit(7L)) + 1).otherwise(col("l_quantity")))
      .withColumn("l_returnflag", when(hit, lit("P")).otherwise(col("l_returnflag")))
      .withColumn("l_shipdate", ms("l_shipdate"))
  }

  def orders: DataFrame = {
    val hit = pick(50, "o", col("o_orderkey"))
    Tables.orders(spark, sf)
      .withColumn("o_totalprice", when(hit, col("o_totalprice") +
        pmod(h(lit("p"), col("o_orderkey")), lit(1000L)) / 100.0).otherwise(col("o_totalprice")))
      .withColumn("o_orderpriority", when(hit,
        concat(col("o_orderpriority"), lit("-\"é\\"))).otherwise(col("o_orderpriority")))
      .withColumn("o_orderdate", ms("o_orderdate"))
  }

  def events: DataFrame = {
    val hit = pick(50, "e", col("event_id"))
    Tables.events(spark, sf)
      .withColumn("props", when(hit, to_json(struct(
        pmod(h(lit("k"), col("event_id")), lit(100L)).as("k"), lit(seed).as("seed"),
        lit("line\nbreak \"q\"").as("note")))).otherwise(col("props")))
      .withColumn("value", when(hit, col("value") * 2 + 1).otherwise(col("value")))
      .withColumn("ts", ms("ts"))
  }

  def documents: DataFrame = {
    val hit = pick(50, "d", col("doc_id"))
    Tables.documents(spark, sf)
      .withColumn("text", when(hit, concat(col("text"),
        lit(" \"quoted\"\ttab ☃ "), lit(seed.toString))).otherwise(col("text")))
  }

  /** Protocol RECORD lines carrying `data` columns of `df`, with a
    * seeded interleave slot hashed from `unique` (distinct per line). */
  def records(stream: String, df: DataFrame, data: Seq[String], unique: Seq[Column],
      emittedAt: Column): DataFrame =
    df.select(
      concat(lit(s"""{"type":"RECORD","record":{"stream":"$stream","data":"""),
        to_json(struct(data.map(col): _*)),
        lit(""","emitted_at":"""), emittedAt.cast(StringType), lit("}}")).as("value"),
      h((lit(stream) +: unique): _*).as("slot"))

  /** Seeded STATE and LOG lines for `streams`, `n` of each. */
  def controlLines(streams: Seq[String], n: Int): DataFrame = {
    val names = array(streams.map(lit): _*)
    val stream = element_at(names, (pmod(col("id"), lit(streams.size.toLong)) + 1).cast(IntegerType))
    val state = spark.range(n).select(
      concat(lit("""{"type":"STATE","state":{"type":"STREAM","stream":{"stream_descriptor":{"name":""""),
        stream, lit(""""},"stream_state":{"cursor":"""), col("id").cast(StringType),
        lit("}}}}")).as("value"),
      h(lit("state"), col("id")).as("slot"))
    val log = spark.range(n).select(
      concat(lit("""{"type":"LOG","log":{"level":"INFO","message":"checkpoint """),
        col("id").cast(StringType), lit(""""}}""")).as("value"),
      h(lit("log"), col("id")).as("slot"))
    state.unionByName(log)
  }

  /** Writes `lines` (value, slot) as ONE file and returns its size in
    * bytes. With `interleave`, rows are shuffled into slot order first. */
  def writeFile(lines: DataFrame, file: String, parts: Int, interleave: Boolean = false): Long = {
    val tmp = file + ".parts"
    val ordered =
      if (interleave) lines.repartition(parts, col("slot")).sortWithinPartitions("slot")
      else lines
    ordered.select("value").write.mode("overwrite").text(tmp)
    concatParts(tmp, file)
  }

  /** A seeded 1/n of `df`'s rows, chosen by key (the same choice as
    * [[lineitem]] makes). */
  def share(df: DataFrame, key: Seq[String], n: Long): DataFrame =
    df.filter(pick(n, "share", key.map(col): _*))
}

object Gen {
  val Emitted0 = 1700000000000L

  /** Declared catalog stream for a typed frame (all fields nullable). */
  def stream(name: String, df: DataFrame, pks: Seq[String] = Nil): ConfiguredStream =
    ConfiguredStream(name, StructType(df.schema.fields.map(_.copy(nullable = true))), pks)

  def catalog(streams: ConfiguredStream*): ConfiguredCatalog = ConfiguredCatalog(streams)

  /** (rows, checksum) over the given columns. The checksum sums a 24-bit
    * slice of each row's hash, so it cannot overflow and is independent
    * of row order. */
  def checksum(df: DataFrame, cols: Seq[String]): (Long, Long) = checksums(Seq(df -> cols)).head

  /** [[checksum]] of several frames in one job. */
  def checksums(frames: Seq[(DataFrame, Seq[String])]): Seq[(Long, Long)] = {
    val parts = frames.zipWithIndex.map { case ((df, cols), i) =>
      df.agg(lit(i).as("i"), count(lit(1)).as("n"),
        coalesce(sum(pmod(xxhash64(cols.map(col): _*), lit(1L << 24))), lit(0L)).as("s"))
    }
    val rows = parts.reduce(_ unionByName _).collect().map(r => r.getInt(0) -> (r.getLong(1), r.getLong(2))).toMap
    frames.indices.map(rows)
  }

  /** Concatenates Spark's part files under `dir` into `file` and deletes
    * `dir`. Returns the file size. */
  def concatParts(dir: String, file: String): Long = {
    val parts = new java.io.File(dir).listFiles().filter(f =>
      f.getName.startsWith("part-")).sortBy(_.getName)
    val out = java.nio.channels.FileChannel.open(Paths.get(file),
      StandardOpenOption.CREATE, StandardOpenOption.TRUNCATE_EXISTING, StandardOpenOption.WRITE)
    try parts.foreach { p =>
      val in = java.nio.channels.FileChannel.open(p.toPath)
      try {
        var pos = 0L
        while (pos < in.size()) pos += in.transferTo(pos, in.size() - pos, out)
      } finally in.close()
    } finally out.close()
    deleteTree(dir)
    Files.size(Paths.get(file))
  }

  def lineCount(file: String): Long = {
    val s = Files.lines(Paths.get(file))
    try s.count() finally s.close()
  }

  def deleteTree(dir: String): Unit = {
    val root = Paths.get(dir)
    if (Files.exists(root)) {
      val s = Files.walk(root)
      try s.sorted(java.util.Comparator.reverseOrder[java.nio.file.Path]())
        .forEach(p => Files.delete(p))
      finally s.close()
    }
  }
}
