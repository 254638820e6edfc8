package org.apache.spark.sql

import org.apache.spark.internal.config.MAX_RESULT_SIZE
import org.apache.spark.sql.functions._

import graft.SparkTestBase
import graft.tools.Probe

/** [[GraftBridge.localIterator]] under a small `spark.driver.maxResultSize`.
  * Lives in Spark's package to set that core conf on the running context. */
class LocalIteratorSpec extends SparkTestBase {

  test("localIterator: partitions past the result limit come one per job, in order") {
    // 8 partitions of ~0.5 MB of hard-to-compress JSON against a 1 MB
    // limit: fetched whole in one chunk they would abort the job
    val n = 16000
    val lines = spark.range(0, n, 1, 8).select(to_json(struct(col("id"),
      sha2(col("id").cast("string"), 512).as("a"),
      sha2((col("id") + n).cast("string"), 512).as("b"))).as("line"))
      .as[String](Encoders.STRING)
    val conf = spark.sparkContext.conf
    val before = conf.get(MAX_RESULT_SIZE)
    conf.set(MAX_RESULT_SIZE.key, "1m")
    val (jobs, got) = try Probe.countJobs(spark)(GraftBridge.localIterator(lines).toVector)
      finally conf.set(MAX_RESULT_SIZE.key, before.toString)
    assert(got.map(_.stripPrefix("""{"id":""").takeWhile(_ != ',').toLong) == (0L until n))
    assert(got.forall(_.length > 270))
    // one chunk whose tasks all pass their cap, then one job per partition
    assert(jobs == 1 + 8)
  }
}
