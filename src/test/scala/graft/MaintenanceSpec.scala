package graft

import org.apache.spark.sql.functions._

import graft.cache.{CacheTables, SparkCache}
import graft.sources.Tables

/** Cache maintenance: small-file compaction and partition retention. */
class MaintenanceSpec extends SparkTestBase {

  import spark.implicits._

  test("reopen re-attaches tables written by a previous JVM (incl. partitioned)") {
    // Write through one cache, then clone the warehouse directory to a
    // database name THIS session has never registered — exactly what a
    // fresh JVM sees: files on disk, nothing in the in-memory catalog.
    val cacheA = SparkCache.fresh(spark, "graft_test_reopen_a")
    CacheTables.save(Tables.orders(spark, "/root/testdata/sf0.001").limit(100)
      .write, cacheA.tableName("orders_plain"))
    CacheTables.save(Tables.orders(spark, "/root/testdata/sf0.001").limit(100)
      .withColumn("bucket", col("o_orderkey") % 4)
      .write.partitionBy("bucket"), cacheA.tableName("orders_part"))
    val srcDir = java.nio.file.Paths.get(java.net.URI.create(
      spark.catalog.getDatabase("graft_test_reopen_a").locationUri))
    val dstDir = srcDir.resolveSibling("graft_test_reopen_b.db")
    org.apache.commons.io.FileUtils.deleteQuietly(dstDir.toFile)
    org.apache.commons.io.FileUtils.copyDirectory(srcDir.toFile, dstDir.toFile)

    val cacheB = new SparkCache(spark, "graft_test_reopen_b")
    assert(!cacheB.tableExists("orders_plain"), "precondition: unknown to catalog")
    val attached = cacheB.reopen().sorted
    assert(attached == Seq("orders_part", "orders_plain"))
    assert(cacheB.table("orders_plain").count() == 100)
    // partitioned table keeps its spec: partitions discovered, pruning works
    val part = cacheB.table("orders_part")
    assert(part.filter(col("bucket") === 1).count() ==
      cacheA.table("orders_part").filter(col("bucket") === 1).count())
    assert(spark.sql(s"SHOW PARTITIONS ${cacheB.tableName("orders_part")}")
      .count() == 4)
    // idempotent: second reopen attaches nothing new
    assert(cacheB.reopen().isEmpty)
    cacheA.dropAll(); cacheB.dropAll()
  }

  test("compaction shrinks file count without changing data") {
    val cache = SparkCache.fresh(spark, "graft_test_compact")
    val o = Tables.orders(spark, "/root/testdata/sf0.001")
    // simulate many small sync outputs: 20 files
    CacheTables.save(o.repartition(20).write, cache.tableName("orders_nopk"))
    val before = spark.table(cache.tableName("orders_nopk"))
    val beforeFiles = before.inputFiles.length
    val beforeAgg = before.agg(count(lit(1)), sum(col("o_orderkey")))
      .as[(Long, Long)].head()

    val afterFiles = cache.compactTable("orders_nopk")
    assert(beforeFiles == 20 && afterFiles < beforeFiles,
      s"files before=$beforeFiles after=$afterFiles")
    val afterAgg = spark.table(cache.tableName("orders_nopk"))
      .agg(count(lit(1)), sum(col("o_orderkey"))).as[(Long, Long)].head()
    assert(afterAgg == beforeAgg)
    cache.dropAll()
  }

  test("a swap whose second rename fails rolls the original table back") {
    val cache = SparkCache.fresh(spark, "graft_test_swap_rollback")
    val t = cache.tableName("orders_nopk")
    CacheTables.save(Tables.orders(spark, "/root/testdata/sf0.001").limit(100).write, t)
    // the staged table does not exist: the first rename (target → old)
    // succeeds, the second (staged → target) fails
    intercept[org.apache.spark.sql.AnalysisException](
      cache.swap("__swap_new_missing", t, partitioned = false))
    assert(cache.tableExists("orders_nopk"))
    assert(spark.table(t).count() == 100)
    val left = spark.sql("SHOW TABLES IN graft_test_swap_rollback")
      .select("tableName").as[String].collect().filter(_.startsWith("__"))
    assert(left.isEmpty, left.mkString(", "))
    cache.dropAll()
  }

  test("analyzeTable records CBO row counts and column stats in the catalog") {
    val cache = SparkCache.fresh(spark, "graft_test_analyze")
    val o = Tables.orders(spark, "/root/testdata/sf0.001")
    CacheTables.save(o.write, cache.tableName("orders_nopk"))
    val expected = o.count()

    val rows = cache.analyzeTable("orders_nopk")
    assert(rows.contains(expected), s"catalog rows=$rows expected=$expected")
    // column-level stats (NDV / min-max) must be present for the CBO
    val desc = spark.sql(
      s"DESCRIBE EXTENDED ${cache.tableName("orders_nopk")} o_orderkey")
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(desc.get("distinct_count").exists(_ != "NULL"), desc.toString)
    assert(desc.get("max").exists(_ != "NULL"))
    cache.dropAll()
  }

  test("compaction preserves a partitioned table's partition spec") {
    val cache = SparkCache.fresh(spark, "graft_test_compact_part")
    val ev = Tables.events(spark, "/root/testdata/sf0.001")
      .withColumn("event_date", to_date(col("ts")).cast("string"))
    // many small files per partition dir (5 tasks × days)
    CacheTables.save(ev.repartition(5).write.partitionBy("event_date"),
      cache.tableName("events_by_day"))
    val t = cache.tableName("events_by_day")
    val beforeCount = spark.table(t).count()
    val beforeParts = spark.sql(s"SHOW PARTITIONS $t").count()
    val beforeFiles = spark.table(t).inputFiles.length

    cache.compactTable("events_by_day")
    // partition spec survives the rewrite: SHOW PARTITIONS still works
    assert(spark.sql(s"SHOW PARTITIONS $t").count() == beforeParts)
    assert(spark.table(t).count() == beforeCount)
    // clustered by partition col → at most one file per partition dir
    assert(spark.table(t).inputFiles.length <= beforeParts && beforeFiles > beforeParts)
    // and retention (directory-level drop) still works afterwards
    val days = spark.table(t).select("event_date").distinct()
      .as[String].collect().sorted
    val dropped = cache.expirePartitions("events_by_day", "event_date", days(1))
    assert(dropped == Seq(days(0)))
    assert(spark.table(t).select("event_date").distinct().count() == days.length - 1)
    cache.dropAll()
  }

  test("retention escapes quoted values and rejects multi-column partition specs") {
    val cache = SparkCache.fresh(spark, "graft_test_expire_edge")
    import spark.implicits._
    CacheTables.save(Seq(("a'b", 1L), ("m", 2L), ("zz", 3L)).toDF("day", "v")
      .write.partitionBy("day"), cache.tableName("quoted"))
    // the quoted value sorts below "m" and must drop without breaking SQL
    val dropped = cache.expirePartitions("quoted", "day", "m")
    assert(dropped == Seq("a'b"))
    assert(spark.table(cache.tableName("quoted")).count() == 2)

    CacheTables.save(Seq(("2024", "x", 1L)).toDF("y", "c", "v")
      .write.partitionBy("y", "c"), cache.tableName("multi"))
    intercept[IllegalArgumentException](
      cache.expirePartitions("multi", "y", "2025"))
    cache.dropAll()
  }

  test("retention drops only partitions below the cutoff") {
    val cache = SparkCache.fresh(spark, "graft_test_expire")
    val ev = Tables.events(spark, "/root/testdata/sf0.001")
      .withColumn("event_date", to_date(col("ts")).cast("string"))
    CacheTables.save(ev.repartition(col("event_date"))
      .write.partitionBy("event_date"), cache.tableName("events_by_day"))
    val allDays = spark.table(cache.tableName("events_by_day"))
      .select("event_date").distinct().as[String].collect().sorted
    val cutoff = allDays(allDays.length / 2)
    val expectKept = ev.filter(col("event_date") >= cutoff).count()

    val dropped = cache.expirePartitions("events_by_day", "event_date", cutoff)
    assert(dropped.sorted == allDays.filter(_ < cutoff).toSeq)
    val remaining = spark.table(cache.tableName("events_by_day"))
    assert(remaining.select("event_date").distinct().count() ==
      allDays.count(_ >= cutoff))
    assert(remaining.count() == expectKept)
    cache.dropAll()
  }
}
