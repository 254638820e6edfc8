package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.cache.{BucketedMerge, CacheTables, SortedWrite, SparkCache}
import graft.operators.Records
import graft.protocol._

/**
 * Storage format of the cache: every data file that any write path
 * leaves under a cache database is zstd-compressed parquet, because
 * each table is created with `compression 'zstd'` as a table option
 * (`CacheTables`). Appends, dynamic overwrites and renames inherit the
 * option, so the check runs after the LAST write of each path. A gate
 * test keeps table creation in `src/main` inside `CacheTables`.
 */
class CacheStorageSpec extends SparkTestBase {

  import spark.implicits._

  private val catalog = ConfiguredCatalog(Seq(
    ConfiguredStream("s_pk", new StructType(), primaryKeys = Seq("id")),
    ConfiguredStream("s_nopk", new StructType()),
    ConfiguredStream("s_cdc", new StructType(), primaryKeys = Seq("id"))))

  private def batch(ids: Long*): DataFrame =
    Records.addMetadata(ids.map(i => (i, s"n$i", i % 3)).toDF("id", "name", "g"))

  /** Data files (not `_SUCCESS`, not checksums) under the cache's database. */
  private def dataFiles(cache: SparkCache): Seq[String] = {
    import scala.jdk.CollectionConverters._
    val root = java.nio.file.Paths.get(java.net.URI.create(
      spark.catalog.getDatabase(cache.database).locationUri))
    val walk = java.nio.file.Files.walk(root)
    try walk.iterator().asScala.filter(java.nio.file.Files.isRegularFile(_))
      .map(_.getFileName.toString)
      .filterNot(n => n.startsWith("_") || n.startsWith("."))
      .toSeq
    finally walk.close()
  }

  private def assertZstd(cache: SparkCache, path: String): Unit = {
    val files = dataFiles(cache)
    assert(files.nonEmpty, s"$path wrote no data files")
    val other = files.filterNot(_.endsWith(".zstd.parquet"))
    assert(other.isEmpty, s"$path left non-zstd data files: ${other.mkString(", ")}")
  }

  private def withCache(name: String)(body: SparkCache => Unit): Unit = {
    val cache = SparkCache.fresh(spark, name)
    try body(cache) finally cache.dropAll()
  }

  test("Append (create, then append) and Replace write zstd files") {
    withCache("graft_test_zstd_append") { cache =>
      cache.writeStream("s_nopk", batch(1, 2), catalog, WriteStrategy.Append)
      cache.writeStream("s_nopk", batch(3), catalog, WriteStrategy.Append)
      assert(cache.table("s_nopk").count() == 3)
      assertZstd(cache, "Append")
      cache.writeStream("s_nopk", batch(4), catalog, WriteStrategy.Replace)
      assert(cache.table("s_nopk").count() == 1)
      assertZstd(cache, "Replace")
    }
  }

  test("Merge through stage-and-swap and CDC write zstd files") {
    withCache("graft_test_zstd_merge") { cache =>
      cache.writeStream("s_pk", batch(1, 2), catalog, WriteStrategy.Merge)
      cache.writeStream("s_pk", batch(2, 3), catalog, WriteStrategy.Merge)
      assert(cache.table("s_pk").count() == 3)
      cache.writeStream("s_cdc", batch(1, 2), catalog, WriteStrategy.CdcDelete)
      cache.writeStream("s_cdc", batch(3), catalog, WriteStrategy.CdcDelete)
      assert(cache.table("s_cdc").count() == 3)
      assertZstd(cache, "Merge/CDC")
    }
  }

  test("BucketedMerge (create, then dynamic overwrite) writes zstd files") {
    withCache("graft_test_zstd_bucketed") { cache =>
      val bm = new BucketedMerge(cache, numBuckets = 4)
      bm.merge("s_pk", batch(1, 2, 3), Seq("id"))
      bm.merge("s_pk", batch(3, 4), Seq("id"))
      assert(bm.table("s_pk").count() == 4)
      assertZstd(cache, "BucketedMerge")
    }
  }

  test("compactTable (plain and partitioned) and SortedWrite write zstd files") {
    withCache("graft_test_zstd_compact") { cache =>
      cache.writeStream("s_nopk", batch(1, 2), catalog, WriteStrategy.Append)
      cache.writeStream("s_nopk", batch(3), catalog, WriteStrategy.Append)
      assert(cache.compactTable("s_nopk") == 1)
      CacheTables.save(batch(1, 2, 3, 4).repartition(4).write.partitionBy("g"),
        cache.tableName("s_part"))
      cache.compactTable("s_part")
      assert(cache.table("s_part").count() == 4)
      SortedWrite.writeSorted(batch(5, 1, 3), cache.tableName("s_sorted"), Seq("id"), 2)
      assertZstd(cache, "compactTable/SortedWrite")
    }
  }

  test("writeState and preRegisterStreams write zstd files") {
    withCache("graft_test_zstd_meta") { cache =>
      cache.preRegisterStreams(Seq("a", "b"))
      cache.writeState("src", "a", """{"cursor":1}""")
      cache.writeState("src", "a", """{"cursor":2}""")
      assert(cache.latestState("src", "a").contains("""{"cursor":2}"""))
      assertZstd(cache, "writeState/preRegisterStreams")
    }
  }

  test("a table re-attached by reopen() keeps writing zstd files") {
    withCache("graft_test_zstd_reopen_a") { cacheA =>
      cacheA.writeStream("s_nopk", batch(1, 2), catalog, WriteStrategy.Append)
      // a fresh catalog: the files on disk under a database name this
      // session has never registered (MaintenanceSpec's reopen setup)
      val srcDir = java.nio.file.Paths.get(java.net.URI.create(
        spark.catalog.getDatabase(cacheA.database).locationUri))
      val dstDir = srcDir.resolveSibling("graft_test_zstd_reopen_b.db")
      org.apache.commons.io.FileUtils.deleteQuietly(dstDir.toFile)
      org.apache.commons.io.FileUtils.copyDirectory(srcDir.toFile, dstDir.toFile)
      val cacheB = new SparkCache(spark, "graft_test_zstd_reopen_b")
      try {
        assert(cacheB.reopen().contains("s_nopk"))
        cacheB.writeStream("s_nopk", batch(3), catalog, WriteStrategy.Append)
        assert(cacheB.table("s_nopk").count() == 3)
        assertZstd(cacheB, "reopen + Append")
      } finally cacheB.dropAll()
    }
  }

  // ------------------------------------------------------------------
  // Gate: a table created anywhere else in src/main would fall back to
  // the session's codec (snappy) without any test noticing.
  // ------------------------------------------------------------------

  private val tableCreation = Seq(
    """saveAsTable\(""".r, """\.createTable\(""".r, """\.writeTo\(""".r,
    """(?i)\bCREATE\s+(OR\s+REPLACE\s+)?(EXTERNAL\s+)?TABLE\b""".r)

  /** Table-creating calls in one file's text. */
  private[graft] def creations(text: String): Seq[String] =
    tableCreation.flatMap(_.findAllIn(text))

  test("source gate: only CacheTables creates tables in src/main") {
    import scala.jdk.CollectionConverters._
    val root = java.nio.file.Paths.get("src/main/scala")
    assert(java.nio.file.Files.isDirectory(root), s"run from repo root: $root")
    val walk = java.nio.file.Files.walk(root)
    val offenders = try walk.iterator().asScala
      .filter(_.toString.endsWith(".scala"))
      .filterNot(_.endsWith(java.nio.file.Paths.get("graft/cache/CacheTables.scala")))
      .flatMap { p =>
        creations(new String(java.nio.file.Files.readAllBytes(p), "UTF-8"))
          .map(c => s"$p -> $c")
      }.toSeq
    finally walk.close()
    assert(offenders.isEmpty,
      s"create cache tables through graft.cache.CacheTables:\n  ${offenders.mkString("\n  ")}")
  }

  test("the gate's matcher catches each table-creating form") {
    Seq("df.write.saveAsTable(t)", "spark.catalog.createTable(t, path)",
      "df.writeTo(t).create()", "spark.sql(\"create table t using parquet\")",
      "CREATE OR REPLACE TABLE t AS SELECT 1").foreach { bad =>
      assert(creations(bad).nonEmpty, s"gate missed: $bad")
    }
    assert(creations("df.write.insertInto(t); // a created table").isEmpty)
  }
}
