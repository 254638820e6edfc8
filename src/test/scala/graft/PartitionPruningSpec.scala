package graft

import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.functions._

import graft.cache.{CacheTables, SparkCache}
import graft.sources.Tables

/** The partitioned-layout contract: a date-filtered read of a
  * `partitionBy` table must prune at the PARTITION level (directory
  * listing), not post-filter rows. */
class PartitionPruningSpec extends SparkTestBase {

  test("date filter becomes a PartitionFilter on the scan") {
    val cache = SparkCache.fresh(spark, "graft_test_prune")
    val ev = Tables.events(spark, "/root/testdata/sf0.001")
      .withColumn("event_date", to_date(col("ts")))
    CacheTables.save(ev.repartition(col("event_date"))
      .write.partitionBy("event_date"), cache.tableName("events_by_day"))

    val filtered = spark.table(cache.tableName("events_by_day"))
      .filter(col("event_date") === "2024-01-10")
    filtered.collect()
    val scan = filtered.queryExecution.executedPlan.collect {
      case f: FileSourceScanExec => f
    }.head
    assert(scan.partitionFilters.exists(_.references.exists(_.name == "event_date")),
      s"expected event_date partition filter, got: ${scan.partitionFilters}")
    // data filters must NOT contain the partition predicate (no row-level
    // re-filtering of a column the directory layout already resolved)
    assert(!scan.dataFilters.exists(_.references.exists(_.name == "event_date")))
    cache.dropAll()
  }
}
