package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.cache.CacheTables
import graft.cache.SparkCache
import graft.operators.Records
import graft.protocol._
import graft.sources.Tables

/**
 * ELT pipeline queries: these run the REAL engine paths — SparkCache,
 * write strategies, state backend, schema evolution, record
 * normalization — end-to-end, then emit a small deterministic summary a
 * DuckDB oracle can reproduce from the raw tables.
 *
 * Contract mirrored (reference
 * `tests/integration_tests/test_all_cache_types.py:177-252`):
 * append twice ⇒ 2N; replace twice ⇒ N(last); merge re-run ⇒ idempotent.
 *
 * Each query uses its own cache database and drops it first, so reruns
 * are hermetic. Metadata columns are stamped with fixed extracted-at
 * timestamps so merge ordering is deterministic.
 */
object PipelineQueries {

  private def freshCache(spark: SparkSession, name: String): SparkCache =
    SparkCache.fresh(spark, name)

  private def stamp(df: DataFrame, at: String): DataFrame =
    Records.addMetadata(df, Some(lit(at).cast(TimestampType)))

  private val ordersCatalog = ConfiguredCatalog(Seq(
    ConfiguredStream("orders", new StructType(), primaryKeys = Seq("o_orderkey")),
    ConfiguredStream("orders_nopk", new StructType())))

  /** Merge/upsert (J1/J2): initial load + updated batch for 1/3 of the
    * keys, run TWICE to prove idempotency; last-wins per PK. */
  def q20Merge(spark: SparkSession, dir: String): DataFrame = {
    val cache = freshCache(spark, "graft_q20")
    val orders = Tables.orders(spark, dir)
    cache.writeStream("orders", stamp(orders, "2020-01-01 00:00:00"),
      ordersCatalog, WriteStrategy.Merge)
    val incoming = orders.filter(col("o_orderkey") % 3 === 0)
      .withColumn("o_totalprice", col("o_totalprice") + lit(100.0))
    // run the same merge twice — second run must be a no-op (idempotent)
    cache.writeStream("orders", stamp(incoming, "2021-01-01 00:00:00"),
      ordersCatalog, WriteStrategy.Merge)
    cache.writeStream("orders", stamp(incoming, "2021-01-01 00:00:00"),
      ordersCatalog, WriteStrategy.Merge)
    cache.table("orders")
      .groupBy(col("o_orderstatus"))
      .agg(count(lit(1)).as("n"),
        sum(col("o_totalprice").cast(DecimalType(18, 4))).cast(DoubleType).as("total"))
  }

  val q20Sql: String =
    """SELECT o_orderstatus, COUNT(*) AS n,
      |  CAST(SUM(CAST(CASE WHEN o_orderkey % 3 = 0 THEN o_totalprice + 100.0 ELSE o_totalprice END AS DECIMAL(18,4))) AS DOUBLE) AS total
      |FROM orders GROUP BY o_orderstatus""".stripMargin

  /** Append strategy (U1): two appends ⇒ doubled counts. */
  def q21Append(spark: SparkSession, dir: String): DataFrame = {
    val cache = freshCache(spark, "graft_q21")
    val orders = Tables.orders(spark, dir)
    cache.writeStream("orders_nopk", stamp(orders, "2020-01-01 00:00:00"),
      ordersCatalog, WriteStrategy.Append)
    cache.writeStream("orders_nopk", stamp(orders, "2020-01-02 00:00:00"),
      ordersCatalog, WriteStrategy.Append)
    cache.table("orders_nopk")
      .groupBy(col("o_orderstatus")).agg(count(lit(1)).as("n"))
  }

  val q21Sql: String =
    """SELECT o_orderstatus, COUNT(*) AS n
      |FROM (SELECT * FROM orders UNION ALL SELECT * FROM orders) t
      |GROUP BY o_orderstatus""".stripMargin

  /** Replace strategy (U2): second replace wins entirely. */
  def q22Replace(spark: SparkSession, dir: String): DataFrame = {
    val cache = freshCache(spark, "graft_q22")
    val orders = Tables.orders(spark, dir)
    cache.writeStream("orders_nopk", stamp(orders, "2020-01-01 00:00:00"),
      ordersCatalog, WriteStrategy.Replace)
    cache.writeStream("orders_nopk",
      stamp(orders.filter(col("o_orderkey") % 2 === 0), "2020-01-02 00:00:00"),
      ordersCatalog, WriteStrategy.Replace)
    cache.table("orders_nopk")
      .groupBy(col("o_orderstatus")).agg(count(lit(1)).as("n"))
  }

  val q22Sql: String =
    """SELECT o_orderstatus, COUNT(*) AS n
      |FROM orders WHERE o_orderkey % 2 = 0 GROUP BY o_orderstatus""".stripMargin

  /** AUTO strategy resolution (§2.10): PK ⇒ merge, no PK ⇒ replace —
    * verified by behavior: rerunning AUTO on orders (PK) is idempotent. */
  def q23AutoStrategy(spark: SparkSession, dir: String): DataFrame = {
    val cache = freshCache(spark, "graft_q23")
    val orders = Tables.orders(spark, dir)
    cache.writeStream("orders", stamp(orders, "2020-01-01 00:00:00"), ordersCatalog)
    cache.writeStream("orders", stamp(orders, "2020-01-02 00:00:00"), ordersCatalog)
    cache.writeStream("orders_nopk", stamp(orders, "2020-01-01 00:00:00"), ordersCatalog)
    cache.writeStream("orders_nopk", stamp(orders, "2020-01-02 00:00:00"), ordersCatalog)
    cache.table("orders").agg(count(lit(1)).as("n_merged"))
      .crossJoin(cache.table("orders_nopk").agg(count(lit(1)).as("n_replaced")))
  }

  val q23Sql: String =
    """SELECT (SELECT COUNT(*) FROM orders) AS n_merged,
      |       (SELECT COUNT(*) FROM orders) AS n_replaced""".stripMargin

  /** Schema evolution (§1.2): first batch lacks a column, second batch
    * adds it ⇒ auto ALTER TABLE ADD COLUMNS, old rows read as NULL. */
  def q24SchemaEvolution(spark: SparkSession, dir: String): DataFrame = {
    val cache = freshCache(spark, "graft_q24")
    val orders = Tables.orders(spark, dir)
    val batch1 = orders.filter(col("o_orderkey") % 2 === 0).drop("o_orderpriority")
    val batch2 = orders.filter(col("o_orderkey") % 2 === 1)
    cache.writeStream("orders_nopk", stamp(batch1, "2020-01-01 00:00:00"),
      ordersCatalog, WriteStrategy.Append)
    cache.writeStream("orders_nopk", stamp(batch2, "2020-01-02 00:00:00"),
      ordersCatalog, WriteStrategy.Append)
    cache.table("orders_nopk").agg(
      count(lit(1)).as("total"),
      count(col("o_orderpriority")).as("nn_priority"))
  }

  val q24Sql: String =
    """SELECT COUNT(*) AS total,
      |  COUNT(CASE WHEN o_orderkey % 2 = 1 THEN o_orderpriority END) AS nn_priority
      |FROM orders""".stripMargin

  /** Cursor-incremental sync (ST4/ST5): two incremental batches split on
    * the cursor; state checkpointed after each finalize and used to
    * filter the next read. Exactly-once despite overlapping input. */
  def q25Incremental(spark: SparkSession, dir: String): DataFrame = {
    val cache = freshCache(spark, "graft_q25")
    val ev = Tables.events(spark, dir)
    val catalog = ConfiguredCatalog(Seq(
      ConfiguredStream("events", new StructType(),
        cursorField = Some("ts"), syncMode = SyncMode.Incremental)))
    val cutoff = lit("2024-01-15 00:00:00").cast(TimestampType)

    // batch 1: everything before the cutoff
    val b1 = ev.filter(col("ts") < cutoff)
    cache.writeStream("events", stamp(b1, "2020-01-01 00:00:00"), catalog)
    val cursor1 = b1.agg(max(col("ts"))).collect()(0).getTimestamp(0)
    cache.writeState("src", "events", s"""{"cursor":"$cursor1"}""")

    // batch 2: source re-emits EVERYTHING, engine filters by saved cursor
    val saved = cache.latestState("src", "events").get
    val cursorVal = saved.split("\"")(3) // {"cursor":"..."}
    val b2 = ev.filter(col("ts") > lit(cursorVal).cast(TimestampType))
    cache.writeStream("events", stamp(b2, "2020-01-02 00:00:00"), catalog)

    cache.table("events")
      .groupBy(col("event_type")).agg(count(lit(1)).as("n"))
  }

  val q25Sql: String =
    """SELECT event_type, COUNT(*) AS n FROM events GROUP BY event_type""".stripMargin

  /** Record normalization (P1-P3, F6, S1/S5): rows → JSONL (the connector
    * wire format) → from_json against a DECLARED schema: missing declared
    * field ⇒ NULL, undeclared field pruned, number ⇒ DECIMAL(38,9). */
  def q26RecordNormalize(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val ev = Tables.events(spark, dir)
    val jsonl = ev.select(to_json(struct(ev.columns.map(col).toSeq: _*)).as("j")).as[String]
    val declared = StructType(Seq(
      StructField("event_id", LongType),
      StructField("event_type", StringType),
      StructField("value", DecimalType(38, 9)),
      StructField("missing_col", StringType))) // declared but absent ⇒ NULL
    val normalized = Records.normalize(jsonl, declared,
      extractedAt = Some(lit("2020-01-01 00:00:00").cast(TimestampType)))
    Records.dropInternalColumns(normalized)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
        count(col("missing_col")).as("nn_missing"),
        // rescale 9→4 before the double cast (see q1: DuckDB's decimal→
        // double mis-rounds past 2^53 unscaled; values have 2dp so the
        // rescale is exact)
        sum(col("value")).cast(DecimalType(38, 4)).cast(DoubleType).as("sum_value"))
  }

  val q26Sql: String =
    """SELECT event_type, COUNT(*) AS n,
      |  CAST(0 AS BIGINT) AS nn_missing,
      |  CAST(CAST(SUM(CAST(value AS DECIMAL(38,9))) AS DECIMAL(38,4)) AS DOUBLE) AS sum_value
      |FROM events GROUP BY event_type""".stripMargin

  /** Name normalization (F1/P3): messy source identifiers → normalized
    * snake_case columns, then a grouped count over the renamed frame. */
  def q27NameNormalize(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(spark, dir)
      .withColumnRenamed("o_orderstatus", "O Order-Status!")
      .withColumnRenamed("o_orderkey", "1OrderKey")
    val norm = Records.normalizeColumnNames(o)
    norm.groupBy(col("o_order_status_"))
      .agg(count(lit(1)).as("n"), max(col("_1orderkey")).as("max_key"))
  }

  val q27Sql: String =
    """SELECT o_orderstatus AS o_order_status_, COUNT(*) AS n,
      |  MAX(o_orderkey) AS max_key
      |FROM orders GROUP BY o_orderstatus""".stripMargin

  /** SQL pass-through with read-only guard (Q1/P6): the cache's
    * `run_sql_query` surface over registered stream tables. */
  def q28SqlPassthrough(spark: SparkSession, dir: String): DataFrame = {
    val cache = freshCache(spark, "graft_q28")
    cache.writeStream("orders_nopk",
      stamp(Tables.orders(spark, dir), "2020-01-01 00:00:00"),
      ordersCatalog, WriteStrategy.Replace)
    // guard must reject writes
    val rejected =
      try { cache.runSqlQuery("DROP TABLE orders_nopk"); false }
      catch { case _: IllegalArgumentException => true }
    require(rejected, "read-only guard failed to reject DROP")
    cache.runSqlQuery(
      """SELECT o_orderpriority, COUNT(*) AS n, MAX(o_orderkey) AS max_key
        |FROM orders_nopk GROUP BY o_orderpriority""".stripMargin)
  }

  val q28Sql: String =
    """SELECT o_orderpriority, COUNT(*) AS n, MAX(o_orderkey) AS max_key
      |FROM orders GROUP BY o_orderpriority""".stripMargin

  /** Partition-bucketed incremental merge (the 100 TB merge path):
    * same last-wins/idempotent contract as q20, but each batch rewrites
    * only the hash-bucket partitions its keys touch. */
  def q29BucketedMerge(spark: SparkSession, dir: String): DataFrame = {
    val cache = freshCache(spark, "graft_q29")
    // RANGE bucketing (contiguous 1000-key chunks): the incoming batch is
    // a key range, so it touches few buckets and the merge prunes the rest
    // — the pattern for cursor/time-incremental streams. Hash bucketing
    // (the default) would spread any batch across every partition.
    val bm = new graft.cache.BucketedMerge(cache, numBuckets = 32,
      bucketExpr = Some(pmod(expr("o_orderkey div 1000"), lit(32))))
    val orders = Tables.orders(spark, dir)
    bm.merge("orders", stamp(orders, "2020-01-01 00:00:00"), Seq("o_orderkey"))
    val incoming = orders.filter(col("o_orderkey") < 3000)
      .withColumn("o_totalprice", col("o_totalprice") + lit(100.0))
    bm.merge("orders", stamp(incoming, "2021-01-01 00:00:00"), Seq("o_orderkey"))
    bm.merge("orders", stamp(incoming, "2021-01-01 00:00:00"), Seq("o_orderkey"))
    bm.table("orders")
      .groupBy(col("o_orderstatus"))
      .agg(count(lit(1)).as("n"),
        sum(col("o_totalprice").cast(DecimalType(18, 4))).cast(DoubleType).as("total"))
  }

  val q29Sql: String =
    """SELECT o_orderstatus, COUNT(*) AS n,
      |  CAST(SUM(CAST(CASE WHEN o_orderkey < 3000 THEN o_totalprice + 100.0 ELSE o_totalprice END AS DECIMAL(18,4))) AS DOUBLE) AS total
      |FROM orders GROUP BY o_orderstatus""".stripMargin

  /** Time-partitioned table layout + partition-pruned scan — the 100 TB
    * fact-table pattern: daily `partitionBy` directories, so a 3-day
    * query LISTS AND READS 3/30 of the data (`PartitionFilters` in the
    * scan; `PartitionPruningSpec` asserts it). The repartition by the
    * partition column before the write keeps file count = partitions,
    * not tasks×partitions. */
  def q63PartitionPruning(spark: SparkSession, dir: String): DataFrame = {
    val cache = freshCache(spark, "graft_q63")
    val ev = Tables.events(spark, dir)
      .withColumn("event_date", to_date(col("ts")))
    CacheTables.save(ev.repartition(col("event_date"))
      .write.partitionBy("event_date"), cache.tableName("events_by_day"))
    spark.table(cache.tableName("events_by_day"))
      .filter(col("event_date").between("2024-01-10", "2024-01-12"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast(DecimalType(18, 4))).cast(DoubleType).as("sum_value"))
  }

  val q63Sql: String =
    """SELECT event_type, COUNT(*) AS n,
      |  CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sum_value
      |FROM events
      |WHERE CAST(ts AS DATE) BETWEEN '2024-01-10' AND '2024-01-12'
      |GROUP BY event_type""".stripMargin

  /** Sorted range-partitioned layout (`cache/SortedWrite.scala`): write
    * orders sorted by price into files with disjoint ranges, then run a
    * selective range query — at scale the scan skips every row group
    * whose min/max lies outside the predicate (`SortedWriteSpec` proves
    * the disjoint-range property; this query gates the read path). */
  def q72SortedLayout(spark: SparkSession, dir: String): DataFrame = {
    val cache = freshCache(spark, "graft_q72")
    graft.cache.SortedWrite.writeSorted(
      Tables.orders(spark, dir), cache.tableName("orders_nopk"),
      Seq("o_totalprice"), numFiles = 8)
    spark.table(cache.tableName("orders_nopk"))
      .filter(col("o_totalprice") >= 100000.0 && col("o_totalprice") < 150000.0)
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n"),
        sum(col("o_totalprice").cast(DecimalType(18, 4))).cast(DoubleType).as("total"))
  }

  val q72Sql: String =
    """SELECT o_orderpriority, COUNT(*) AS n,
      |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS total
      |FROM orders
      |WHERE o_totalprice >= 100000.0 AND o_totalprice < 150000.0
      |GROUP BY o_orderpriority""".stripMargin

  /** CDC apply with hard deletes (`WriteStrategies.mergeCdc`): the event
    * stream is replayed as a CDC feed over per-user profile rows —
    * pk = user_id, cursor = (ts, event_id), `error` events act as delete
    * markers (`_cdc_deleted_at`, the Airbyte/Debezium convention). The
    * surviving table is the latest non-deleted state per key; a key whose
    * LAST change is a delete vanishes — semantics plain last-wins merge
    * cannot express. Applied twice to prove replay idempotency, then
    * landed in a real cache table. */
  def q80CdcDeletes(spark: SparkSession, dir: String): DataFrame = {
    val cache = freshCache(spark, "graft_q80")
    val feed = Tables.events(spark, dir).select(
      col("user_id"), col("event_type"), col("value"), col("ts"), col("event_id"),
      when(col("event_type") === "error", col("ts")).as("_cdc_deleted_at"))
    val applied = graft.operators.WriteStrategies.mergeCdc(
      None, feed, Seq("user_id"), "_cdc_deleted_at", Seq("ts", "event_id"))
    // replay the same feed against the applied state — must be a no-op
    val replayed = graft.operators.WriteStrategies.mergeCdc(
      Some(applied), feed, Seq("user_id"), "_cdc_deleted_at", Seq("ts", "event_id"))
    CacheTables.save(replayed.write.mode("overwrite"), cache.tableName("profiles"))
    spark.table(cache.tableName("profiles"))
      .select(col("user_id"), col("event_type").as("last_type"),
        col("value").as("last_value"))
  }

  val q80Sql: String =
    """WITH ranked AS (
      |  SELECT user_id, event_type, value,
      |    row_number() OVER (PARTITION BY user_id
      |      ORDER BY CAST(ts AS TIMESTAMP) DESC, event_id DESC) AS rn
      |  FROM events)
      |SELECT user_id, event_type AS last_type, value AS last_value
      |FROM ranked WHERE rn = 1 AND event_type <> 'error'""".stripMargin

  /** Z-ordered (Morton-interleaved) layout (`SortedWrite.writeZOrdered`):
    * events clustered on BOTH user_id and day, then a 2-D selective query.
    * A single-column sort keeps tight min/max stats only on its leading
    * column; the Morton key keeps them tight on both, so either predicate
    * prunes row groups at scale (Delta/Iceberg ZORDER, from stock Spark).
    * `ZOrderSpec` proves the rectangle-compactness property; this query
    * gates the read path end-to-end. */
  def q84ZorderLayout(spark: SparkSession, dir: String): DataFrame = {
    val cache = freshCache(spark, "graft_q84")
    val ev = Tables.events(spark, dir)
      .withColumn("day", unix_date(to_date(col("ts"))).cast(LongType))
    graft.cache.SortedWrite.writeZOrdered(
      ev, cache.tableName("events_z"), "user_id", "day", numFiles = 16)
    spark.table(cache.tableName("events_z"))
      .filter(col("user_id").between(10, 19) &&
        col("day").between(19728, 19734)) // 2024-01-06 .. 2024-01-12
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast(DecimalType(18, 4))).cast(DoubleType).as("sum_value"))
  }

  val q84Sql: String =
    """SELECT event_type, COUNT(*) AS n,
      |  CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sum_value
      |FROM events
      |WHERE user_id BETWEEN 10 AND 19
      |  AND date_diff('day', DATE '1970-01-01', CAST(ts AS DATE)) BETWEEN 19728 AND 19734
      |GROUP BY event_type""".stripMargin

  /**
   * The smoke-test scenario gauntlet (reference
   * `cli/smoke_test_source/_scenarios.py` + `source.py` via
   * [[graft.sources.SmokeTest]]): every predefined adversarial stream —
   * type variations, nulls, naming edge cases, unicode, unions, numeric
   * boundaries, duplicate PKs, a 1000-row generated batch — synced
   * end-to-end through the production protocol-ingest + write-strategy
   * path, summarized per stream. The scripted data is fixed, so the
   * oracle is the hand-computed expectation table: stream name, data
   * column count, post-merge row count, and Σid. (Per-value golden
   * assertions live in SmokeTestSourceSpec; this row gates the suite in
   * the driver's correctness loop.) Input-dir independent by design —
   * the gauntlet IS the dataset.
   */
  def q181SmokeGauntlet(spark: SparkSession, dir: String): DataFrame = {
    val cache = freshCache(spark, "graft_q181")
    // preflight and readback stats are covered by SmokeTestSourceSpec;
    // this query verifies the written tables itself, so it skips both
    // (each would add a full extra sync / 22 statistics jobs per run)
    val run = graft.sources.SmokeTest.run(spark, scenarios = "all",
      reuseNamespace = Some("graft_q181"),
      skipPreflight = true, collectStatistics = false)
    require(run.success, s"smoke gauntlet failed: ${run.error}")
    val source = graft.sources.SmokeTestSource.forScenarios("all")
    val frames = source.catalog.streamNames.sorted.map { s =>
      val t = cache.table(s)
      val dataCols = t.columns.filterNot(Records.InternalColumns.contains)
      val sumId =
        if (dataCols.contains("id")) coalesce(sum(col("id")), lit(0L))
        else lit(0L)
      t.agg(count(lit(1)).cast(LongType).as("n_rows"),
          sumId.cast(LongType).as("sum_id"))
        .select(lit(s).as("stream"), lit(dataCols.length).as("n_cols"),
          col("n_rows"), col("sum_id"))
    }
    frames.reduce(_ unionByName _)
  }

  /** Hand-computed expectations for the scripted scenario data. */
  val q181Sql: String =
    """SELECT stream, CAST(n_cols AS INT) AS n_cols,
      |  CAST(n_rows AS BIGINT) AS n_rows, CAST(sum_id AS BIGINT) AS sum_id
      |FROM (VALUES
      |  ('array_of_primitives', 5, 3, 6),
      |  ('basic_types', 4, 3, 6),
      |  ('camelcasestreamname', 2, 1, 1),
      |  ('column_naming_edge_cases', 11, 1, 1),
      |  ('duplicate_primary_keys', 3, 3, 6),
      |  ('empty_stream', 2, 0, 0),
      |  ('large_batch_stream', 4, 1000, 500500),
      |  ('large_decimals_and_numbers', 4, 3, 6),
      |  ('large_string_values', 4, 2, 3),
      |  ('long_column_names', 3, 1, 1),
      |  ('nested_json_objects', 4, 2, 3),
      |  ('null_handling', 7, 3, 6),
      |  ('schema_with_no_primary_key', 3, 3, 0),
      |  ('single_record_stream', 2, 1, 1),
      |  ('sparse_records', 6, 7, 28),
      |  ('special_number_values', 3, 7, 28),
      |  ('table_naming_edge_cases', 2, 1, 1),
      |  ('time_types', 4, 3, 6),
      |  ('timestamp_types', 4, 3, 6),
      |  ('unicode_and_special_strings', 3, 4, 10),
      |  ('union_types', 4, 3, 6),
      |  ('wide_table_50_columns', 50, 2, 3)
      |) AS t(stream, n_cols, n_rows, sum_id)""".stripMargin
}
