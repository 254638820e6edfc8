package graft

import org.apache.spark.sql.{DataFrame, GraftBridge, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.cache.SparkCache
import graft.datasets.CachedDataset
import graft.protocol._
import graft.sources.FrameSource
import graft.tools.Probe

/** Spark jobs per `CachedDataset` call, pinned through `Probe.countJobs`,
  * and the chunked local iterator behind `iterator()`. */
class DatasetJobsSpec extends SparkTestBase {

  private val schema = StructType(Seq(
    StructField("id", LongType), StructField("kind", StringType)))
  private val catalog = ConfiguredCatalog(Seq(
    ConfiguredStream("events", schema), ConfiguredStream("users", schema)))

  private def batch(spark: SparkSession, b: Int): DataFrame =
    spark.range(b * 100L, (b + 1) * 100L, 1, 1)
      .select(col("id"), (col("id") % 3).cast("string").as("kind"))

  /** `events` is appended in 3 one-file batches (3 scan partitions);
    * `users` is one batch. */
  private lazy val cache: SparkCache = {
    val c = SparkCache.fresh(spark, "graft_test_dataset_jobs")
    for (b <- 0 until 3) new FrameSource("f", catalog,
      Map("events" -> (s => batch(s, b)), "users" -> (s => batch(s, 7))))
      .read(c, spark, Seq("events") ++ Option.when(b == 0)("users"),
        WriteStrategy.Append, forceFullRefresh = false)
    c
  }
  private def events = new CachedDataset(cache, "events")

  private def jobs[T](body: => T): (Int, T) = Probe.countJobs(spark)(body)

  override def afterAll(): Unit = {
    cache.dropAll()
    super.afterAll()
  }

  test("the events table scans as 3 partitions") {
    assert(events.toDF.rdd.getNumPartitions == 3)
  }

  test("count(): one job, filtered or not, and cached after the first") {
    assert(jobs(events.count()) == (1, 300L))
    val kind1 = events.withFilter("kind = '1'")
    assert(jobs(kind1.count()) == (1, 100L))
    assert(jobs(kind1.count()) == (0, 100L))
  }

  test("iterator(): one job over the 3-file table, rows equal collect() in order") {
    val ds = events.withFilter(col("id") % 2 === 0)
    val (n, rows) = jobs(ds.iterator().toVector)
    assert(n == 1)
    assert(rows == ds.toDF.collect().toVector)
    assert(rows.map(_.getAs[Long]("id")).sorted == (0L until 300L by 2))
  }

  test("take and the Arrow export: one job each") {
    assert(jobs(events.take(5).length) == (1, 5))
    val (n, bytes) = jobs(events.toArrowBatches().map(_.length.toLong).sum())
    assert(n == 1 && bytes > 0)
  }

  test("ReadResult.counts: every stream in one job") {
    val result = new graft.sources.ReadResult(cache, Seq("events", "users"))
    assert(jobs(result.counts) == (1, Map("events" -> 300L, "users" -> 100L)))
  }

  test("localIterator: more partitions than cores run in chunks, in order") {
    val df = spark.range(0, 1000, 1, 10).toDF("id")
    val chunk = spark.sparkContext.defaultParallelism
    val (n, ids) = jobs(GraftBridge.localIterator(df).map(_.getLong(0)).toVector)
    assert(ids == (0L until 1000L))
    assert(n == (10 + chunk - 1) / chunk)
  }

  test("localIterator: a frame with no partitions runs no job") {
    val empty = spark.createDataFrame(spark.sparkContext.emptyRDD[Row], schema)
    assert(jobs(GraftBridge.localIterator(empty).toVector) == (0, Vector.empty))
    assert(GraftBridge.count(empty) == 0L)
  }

  test("iteratorChunk: measured bytes per partition, clamped to 1..parallelism") {
    import GraftBridge.iteratorChunk
    val gb = 1L << 30
    // nothing fetched yet, or no limit: one task per core
    assert(iteratorChunk(0L, gb, 4) == 4)
    assert(iteratorChunk(8L << 30, 0L, 4) == 4)
    // partitions past half the limit: one partition per job
    assert(iteratorChunk(600L << 20, gb, 4) == 1)
    assert(iteratorChunk(8L << 20, 1000L, 4) == 1)
    // small partitions: one task per core
    assert(iteratorChunk(8000L, gb, 4) == 4)
    // in between: half the limit over the largest partition
    assert(iteratorChunk(128L << 20, gb, 16) == 4)
    // no known parallelism
    assert(iteratorChunk(8000L, gb, 0) == 1)
  }
}
