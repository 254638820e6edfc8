package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.cache.SparkCache
import graft.operators.{Records, WriteStrategies}
import graft.protocol._

/**
 * Behavioral contract from the reference
 * (`tests/integration_tests/test_all_cache_types.py:136-319`):
 * append twice ⇒ 2N; replace twice ⇒ N; merge re-run ⇒ idempotent,
 * last-wins per PK; merge without PK ⇒ error; new columns auto-added.
 */
class WriteStrategySpec extends SparkTestBase {

  import spark.implicits._

  private def df(rows: (Long, String, Double)*) =
    Records.addMetadata(
      rows.toDF("id", "name", "score"),
      Some(lit("2020-01-01 00:00:00").cast(TimestampType)))

  private def dfAt(at: String, rows: (Long, String, Double)*) =
    Records.addMetadata(
      rows.toDF("id", "name", "score"),
      Some(lit(at).cast(TimestampType)))

  private val catalog = ConfiguredCatalog(Seq(
    ConfiguredStream("s_pk", new StructType(), primaryKeys = Seq("id")),
    ConfiguredStream("s_nopk", new StructType())))

  test("append twice doubles the row count") {
    val cache = SparkCache.fresh(spark, "graft_test_append")
    cache.writeStream("s_nopk", df((1L, "a", 1.0)), catalog, WriteStrategy.Append)
    cache.writeStream("s_nopk", df((1L, "a", 1.0)), catalog, WriteStrategy.Append)
    assert(cache.table("s_nopk").count() == 2)
    cache.dropAll()
  }

  test("replace twice keeps only the last batch") {
    val cache = SparkCache.fresh(spark, "graft_test_replace")
    cache.writeStream("s_nopk", df((1L, "a", 1.0), (2L, "b", 2.0)), catalog, WriteStrategy.Replace)
    cache.writeStream("s_nopk", df((3L, "c", 3.0)), catalog, WriteStrategy.Replace)
    val rows = cache.table("s_nopk").select("id").as[Long].collect().sorted
    assert(rows.toSeq == Seq(3L))
    cache.dropAll()
  }

  test("merge is idempotent and last-wins per PK") {
    val cache = SparkCache.fresh(spark, "graft_test_merge")
    cache.writeStream("s_pk",
      dfAt("2020-01-01 00:00:00", (1L, "a", 1.0), (2L, "b", 2.0)),
      catalog, WriteStrategy.Merge)
    // update id=2, add id=3 — run twice
    val incoming = dfAt("2021-01-01 00:00:00", (2L, "b2", 20.0), (3L, "c", 3.0))
    cache.writeStream("s_pk", incoming, catalog, WriteStrategy.Merge)
    cache.writeStream("s_pk", incoming, catalog, WriteStrategy.Merge)
    val out = cache.table("s_pk").select("id", "name", "score")
      .as[(Long, String, Double)].collect().sortBy(_._1)
    assert(out.toSeq == Seq((1L, "a", 1.0), (2L, "b2", 20.0), (3L, "c", 3.0)))
    cache.dropAll()
  }

  test("merge without PK is an error (reference resolve_write_method)") {
    assertThrows[IllegalArgumentException](
      catalog.resolveWriteMethod("s_nopk", WriteStrategy.Merge))
  }

  test("AUTO resolves: PK ⇒ merge, cursor ⇒ append, neither ⇒ replace") {
    val c = ConfiguredCatalog(Seq(
      ConfiguredStream("pk", new StructType(), primaryKeys = Seq("id")),
      ConfiguredStream("cur", new StructType(), cursorField = Some("ts")),
      ConfiguredStream("plain", new StructType())))
    assert(c.resolveWriteMethod("pk", WriteStrategy.Auto) == WriteStrategy.Merge)
    assert(c.resolveWriteMethod("cur", WriteStrategy.Auto) == WriteStrategy.Append)
    assert(c.resolveWriteMethod("plain", WriteStrategy.Auto) == WriteStrategy.Replace)
  }

  test("schema evolution: appending a batch with a new column adds it, old rows NULL") {
    val cache = SparkCache.fresh(spark, "graft_test_evolve")
    cache.writeStream("s_nopk", df((1L, "a", 1.0)), catalog, WriteStrategy.Append)
    val withExtra = Records.addMetadata(
      Seq((2L, "b", 2.0, "extra")).toDF("id", "name", "score", "note"),
      Some(lit("2020-01-02 00:00:00").cast(TimestampType)))
    cache.writeStream("s_nopk", withExtra, catalog, WriteStrategy.Append)
    val t = cache.table("s_nopk")
    assert(t.columns.contains("note"))
    assert(t.count() == 2)
    assert(t.filter(col("note").isNull).count() == 1)
    cache.dropAll()
  }

  test("schema evolution: type changes are NOT migrated — existing column type wins") {
    // Reference contract (records.py:54-63, sql_processor.py:934-981):
    // evolution is ADD-ONLY. A stream that re-declares an existing
    // column with a widened type does not alter the table; incoming
    // values are coerced to the EXISTING column type on append (Spark
    // cast semantics — fractional parts truncate toward zero), and a
    // full REPLACE is the documented way to take a new type.
    val cache = SparkCache.fresh(spark, "graft_test_widen")
    val intBatch = Records.addMetadata(
      Seq((1L, 10L)).toDF("id", "qty"), // qty lands as BIGINT
      Some(lit("2020-01-01 00:00:00").cast(TimestampType)))
    cache.writeStream("s_nopk", intBatch, catalog, WriteStrategy.Append)
    assert(cache.table("s_nopk").schema("qty").dataType == LongType)
    val widened = Records.addMetadata(
      Seq((2L, 2.9)).toDF("id", "qty"), // source now declares qty DOUBLE
      Some(lit("2020-01-02 00:00:00").cast(TimestampType)))
    cache.writeStream("s_nopk", widened, catalog, WriteStrategy.Append)
    // table type unchanged; the widened value was coerced, not migrated
    assert(cache.table("s_nopk").schema("qty").dataType == LongType)
    assert(cache.table("s_nopk").select("id", "qty").as[(Long, Long)]
      .collect().sortBy(_._1).toSeq == Seq((1L, 10L), (2L, 2L)))
    // replace rebuilds with the new declared type (the documented path)
    cache.writeStream("s_nopk", widened, catalog, WriteStrategy.Replace)
    assert(cache.table("s_nopk").schema("qty").dataType == DoubleType)
    assert(cache.table("s_nopk").select("qty").as[Double].collect().toSeq == Seq(2.9))
    cache.dropAll()
  }

  test("dedupLatest breaks ties by raw_id (uuid7 time-ordered)") {
    val d = df((1L, "first", 1.0), (1L, "second", 2.0))
    val out = WriteStrategies.dedupLatest(d, Seq("id"))
    assert(out.count() == 1)
  }

  test("a Merge tie on extracted_at goes to the later line of the batch") {
    // two versions of id=1 stamped with the same extraction time in one
    // single-partition batch: the monotonic raw id decides, so the
    // second line wins every run (random raw ids picked either)
    val cache = SparkCache.fresh(spark, "graft_test_merge_tie")
    (1 to 5).foreach { run =>
      val lines = spark.range(0, 2, 1, numPartitions = 1)
        .select(lit(1L).as("id"), concat(lit(s"r${run}_line"), col("id")).as("name"),
          col("id").cast(DoubleType).as("score"))
      val at = lit(s"2020-01-0$run 00:00:00").cast(TimestampType)
      cache.writeStream("s_pk", Records.addMetadata(lines, Some(at)),
        catalog, WriteStrategy.Merge)
      assert(cache.table("s_pk").select("name").as[String].collect().toSeq ==
        Seq(s"r${run}_line1"), s"run $run")
    }
    cache.dropAll()
  }

  test("mergeCdc: winning delete removes the key; replay cannot resurrect it") {
    // feed keyed by id, cursor = ver; id=2's LAST change is a delete
    val feed = Seq(
      (1L, "a", 1L, null.asInstanceOf[String]),
      (2L, "b", 1L, null.asInstanceOf[String]),
      (2L, "b2", 2L, "2021-06-01"),         // delete marker, latest for id=2
      (3L, "c", 1L, "2021-01-01"),          // deleted...
      (3L, "c2", 2L, null.asInstanceOf[String])) // ...then re-created
      .toDF("id", "name", "ver", "_cdc_deleted_at")
    val applied = WriteStrategies.mergeCdc(
      None, feed, Seq("id"), "_cdc_deleted_at", Seq("ver"))
    val got = applied.select("id", "name").as[(Long, String)].collect().toSet
    assert(got == Set((1L, "a"), (3L, "c2")))

    // replay the SAME feed (at-least-once redelivery): no resurrection,
    // no duplicates — the delete marker still outranks by cursor
    val replayed = WriteStrategies.mergeCdc(
      Some(applied), feed, Seq("id"), "_cdc_deleted_at", Seq("ver"))
    assert(replayed.select("id", "name").as[(Long, String)].collect().toSet == got)

    // cross-batch OUT-OF-ORDER redelivery of a stale pre-delete version:
    // with tombstones retained, the delete still outranks by cursor
    val withTombstones = WriteStrategies.mergeCdc(
      None, feed, Seq("id"), "_cdc_deleted_at", Seq("ver"), keepTombstones = true)
    val stale = Seq((2L, "b", 1L, null.asInstanceOf[String]))
      .toDF("id", "name", "ver", "_cdc_deleted_at")
    val after = WriteStrategies.mergeCdc(
      Some(withTombstones), stale, Seq("id"), "_cdc_deleted_at", Seq("ver"))
    assert(after.select("id").as[Long].collect().toSet == Set(1L, 3L))

    // a delete-free batch usually arrives WITHOUT the marker column —
    // it must merge as all-null markers, not fail analysis
    val noMarker = Seq((4L, "d", 1L)).toDF("id", "name", "ver")
    val widened = WriteStrategies.mergeCdc(
      Some(applied), noMarker, Seq("id"), "_cdc_deleted_at", Seq("ver"))
    assert(widened.select("id").as[Long].collect().toSet == Set(1L, 3L, 4L))
  }

  test("CdcDelete strategy: deletes land through the cache; AUTO picks it for CDC streams") {
    val cache = SparkCache.fresh(spark, "graft_test_cdc")
    val cdcCatalog = ConfiguredCatalog(Seq(
      ConfiguredStream("users", new StructType(), primaryKeys = Seq("id"),
        cursorField = Some("ver"), cdcDeletedAtField = Some("deleted_at"))))
    assert(cdcCatalog.resolveWriteMethod("users", WriteStrategy.Auto) == WriteStrategy.CdcDelete)

    def batch(at: String, rows: (Long, String, Long, String)*) =
      Records.addMetadata(
        rows.toDF("id", "name", "ver", "deleted_at"),
        Some(lit(at).cast(TimestampType)))

    cache.writeStream("users",
      batch("2020-01-01 00:00:00", (1L, "a", 1L, null), (2L, "b", 1L, null)),
      cdcCatalog, WriteStrategy.Auto)
    // second batch: update id=1, delete id=2 — applied twice (replay)
    val b2 = batch("2020-01-02 00:00:00",
      (1L, "a2", 2L, null), (2L, "b", 2L, "2020-01-02"))
    cache.writeStream("users", b2, cdcCatalog, WriteStrategy.Auto)
    cache.writeStream("users", b2, cdcCatalog, WriteStrategy.Auto)

    val out = cache.table("users").select("id", "name")
      .as[(Long, String)].collect().toSet
    assert(out == Set((1L, "a2")))
    cache.dropAll()
  }

  test("state backend: last write wins per (source, stream)") {
    val cache = SparkCache.fresh(spark, "graft_test_state")
    cache.writeState("src", "s1", """{"cursor": 1}""")
    Thread.sleep(5)
    cache.writeState("src", "s1", """{"cursor": 2}""")
    assert(cache.latestState("src", "s1").contains("""{"cursor": 2}"""))
    assert(cache.latestState("src", "missing").isEmpty)
    cache.dropAll()
  }

  test("read-only SQL guard rejects writes and multi-statements") {
    val cache = SparkCache.fresh(spark, "graft_test_guard")
    assertThrows[IllegalArgumentException](cache.checkReadOnly("DROP TABLE x"))
    assertThrows[IllegalArgumentException](cache.checkReadOnly("SELECT 1; SELECT 2"))
    assertThrows[IllegalArgumentException](cache.checkReadOnly("INSERT INTO t VALUES (1)"))
    cache.checkReadOnly("SELECT 1")
    cache.checkReadOnly("  explain select 1")
    cache.checkReadOnly("WITH t AS (SELECT 1) SELECT * FROM t;")
    cache.dropAll()
  }

  test("table-prefix isolation: two prefixed caches over one database don't collide") {
    // reference: prefix isolation tests, test_source_test_fixture.py:433+
    val base = SparkCache.fresh(spark, "graft_test_prefix")
    val a = new SparkCache(spark, "graft_test_prefix", tablePrefix = "a_")
    val b = new SparkCache(spark, "graft_test_prefix", tablePrefix = "b_")
    a.writeStream("s_nopk", df((1L, "from-a", 1.0)), catalog, WriteStrategy.Replace)
    b.writeStream("s_nopk", df((2L, "from-b", 2.0), (3L, "also-b", 3.0)),
      catalog, WriteStrategy.Replace)
    assert(a.table("s_nopk").count() == 1)
    assert(b.table("s_nopk").count() == 2)
    assert(a.tableName("s_nopk").contains("a_s_nopk"))
    assert(spark.sql("SHOW TABLES IN graft_test_prefix").count() >= 2)
    base.dropAll()
  }

  test("dedupLatest without an order column fails with the missing names") {
    val e = intercept[IllegalArgumentException](
      WriteStrategies.dedupLatest(spark.range(10).toDF(), Seq("id")))
    assert(e.getMessage.contains(Records.ExtractedAtColumn) &&
      e.getMessage.contains(Records.RawIdColumn), e.getMessage)
  }

  // ------------------------------------------------------------------
  // Gate: one dedup plan and one rename swap. A second dedup plan, a
  // plan-choice knob or a hand-rolled rename dance would fork the merge
  // finalize again without any output-level test noticing.
  // ------------------------------------------------------------------

  private val forkNames = Seq("dedupLatestSalted", "dedupLatestAuto", "skewHint", "\"graft.merge.")

  /** Forbidden merge-fork names in one file's text. */
  private[graft] def forks(text: String): Seq[String] = forkNames.filter(text.contains)

  /** Names of the 2-space-indented `def`s in `text` whose body holds a
    * `RENAME TO` — a member runs from its `def` line to the next one's. */
  private[graft] def renamers(text: String): Seq[String] = {
    val member = """(?m)^  (?:private(?:\[\w+\])? |override |final )*def (\w+)""".r
    val starts = member.findAllMatchIn(text).map(m => (m.start, m.group(1))).toSeq
    val bodies = ((0, "") +: starts).zip(starts.map(_._1) :+ text.length)
    bodies.collect { case ((from, name), to) if text.substring(from, to).contains("RENAME TO") => name }
  }

  test("source gate: one dedup plan and one rename swap in src/main") {
    import scala.jdk.CollectionConverters._
    val root = java.nio.file.Paths.get("src/main/scala")
    assert(java.nio.file.Files.isDirectory(root), s"run from repo root: $root")
    val walk = java.nio.file.Files.walk(root)
    val files = try walk.iterator().asScala.filter(_.toString.endsWith(".scala")).toSeq
    finally walk.close()
    def read(p: java.nio.file.Path) = new String(java.nio.file.Files.readAllBytes(p), "UTF-8")
    val offenders = files.flatMap(p => forks(read(p)).map(f => s"$p -> $f"))
    assert(offenders.isEmpty, s"merge fork back in src/main:\n  ${offenders.mkString("\n  ")}")
    val cache = read(root.resolve("graft/cache/SparkCache.scala"))
    assert(renamers(cache) == Seq("swap"),
      "SparkCache renames tables only in its one swap helper")
  }

  test("the gate's matchers catch a fork and a rename outside swap") {
    assert(forks("WriteStrategies.dedupLatestSalted(df, pks)").nonEmpty)
    assert(forks("merge(Some(e), b, pks, skewHint = Some(true))").nonEmpty)
    assert(forks("spark.conf.get(\"graft.merge.saltSkewShare\")").nonEmpty)
    assert(forks("WriteStrategies.dedupLatest(df, pks)").isEmpty)
    val one = Seq(
      "final class C {",
      "  private[graft] def swap(a: String, b: String): Unit = {",
      "    def repair(t: String): Unit = ()",
      "    spark.sql(s\"ALTER TABLE $a RENAME TO $b\")",
      "  }",
      "  def other(): Unit = ()").mkString("\n")
    assert(renamers(one) == Seq("swap"))
    val two = one + "\n  private def stageAndSwap(): Unit =\n    spark.sql(\"ALTER TABLE x RENAME TO y\")"
    assert(renamers(two) == Seq("swap", "stageAndSwap"))
    assert(renamers("spark.sql(\"ALTER TABLE x RENAME TO y\")") == Seq(""))
  }
}
