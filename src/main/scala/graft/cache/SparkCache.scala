package graft.cache

import org.apache.spark.sql.{DataFrame, DataFrameWriter, Row, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.operators.{Records, WriteStrategies}
import graft.protocol.{ConfiguredCatalog, WriteStrategy}

/**
 * The cache: a Spark database holding one managed parquet table per
 * stream, plus two internal metadata tables.
 *
 * Reference: `CacheBase` (PyAirbyte `airbyte/caches/base.py:45-477`) backed
 * by a SQL database; internal tables `_airbyte_streams`
 * (`airbyte/caches/_catalog_backend.py:33-247`) and `_airbyte_state`
 * (`airbyte/caches/_state_backend.py:31-278`).
 *
 * Spark-first: tables are managed parquet tables in the session warehouse —
 * at cluster scale the same code writes to a shared metastore + object
 * store, with writes parallel across executors. All metadata operations
 * are tiny driver-side tables; all data paths are distributed.
 */
final class SparkCache(
    val spark: SparkSession,
    val database: String = "graft_cache",
    val tablePrefix: String = "",
    val location: Option[String] = None) {

  val StreamsTable = "_airbyte_streams"
  val StateTable = "_airbyte_state"

  ensureDatabase()

  private def ensureDatabase(): Unit = {
    // known-schemas memo equivalent (reference sql_processor.py:561-586):
    // CREATE DATABASE IF NOT EXISTS is already idempotent + cheap in Spark.
    val loc = location.map(l => s" LOCATION '$l'").getOrElse("")
    spark.sql(s"CREATE DATABASE IF NOT EXISTS `$database`$loc")
  }

  // Metadata tables are created lazily on first use: an empty-table
  // saveAsTable is a full Spark job + file commit (~0.3 s each), pure
  // overhead for caches that never touch state or registration.
  private def metaTableExists(name: String): Boolean =
    spark.catalog.tableExists(s"`$database`.`$name`")

  private def metaTable(name: String, schema: StructType): Unit = {
    if (!metaTableExists(name)) {
      CacheTables.save(spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
        .write.mode(SaveMode.ErrorIfExists), s"`$database`.`$name`")
    }
  }

  private val streamsSchema = StructType(Seq(
    StructField("source_name", StringType),
    StructField("stream_name", StringType),
    StructField("table_name", StringType),
    StructField("catalog_json", StringType),
    StructField("registered_at", TimestampType)))

  private val stateSchema = StructType(Seq(
    StructField("source_name", StringType),
    StructField("stream_name", StringType),
    StructField("state_json", StringType),
    StructField("updated_at", TimestampType)))

  def tableName(streamName: String): String =
    s"`$database`.`$tablePrefix${graft.names.NameNormalizer.normalize(streamName)}`"

  def tableExists(streamName: String): Boolean =
    spark.catalog.tableExists(tableName(streamName))

  /** Full-table dataset for a stream (reference `get_records`, Q5). */
  def table(streamName: String): DataFrame = spark.table(tableName(streamName))

  /** Registered streams with a backing table. Registration happens
    * before the first write (bulk pre-registration), so a sync that
    * fails mid-flight can leave a `_airbyte_streams` row with no table
    * behind it — consumers (MCP list_cached_streams, ReadResult) must
    * not surface those phantoms. The existence filter is driver-side
    * over a dimension-sized list. */
  def streams: Seq[String] = {
    import spark.implicits._
    if (!metaTableExists(StreamsTable)) return Seq.empty
    spark.table(s"`$database`.`$StreamsTable`")
      .select("stream_name").distinct().as[String].collect().toSeq
      .filter(tableExists)
  }

  // ------------------------------------------------------------------
  // Schema evolution (reference sql_processor.py:934-981; SURVEY §1.2):
  // new columns auto-added; type changes NOT migrated; replace rebuilds.
  // ------------------------------------------------------------------

  /** Add any columns present in `incoming` but missing from the table. */
  def addMissingColumns(streamName: String, incoming: StructType): Unit = {
    if (!tableExists(streamName)) return
    val existing = spark.table(tableName(streamName)).schema
    val have = existing.fieldNames.map(_.toLowerCase(java.util.Locale.ROOT)).toSet
    val missing = incoming.fields.filterNot(f => have.contains(f.name.toLowerCase(java.util.Locale.ROOT)))
    if (missing.nonEmpty) {
      val colsDdl = missing
        .map(f => s"`${f.name}` ${f.dataType.sql}").mkString(", ")
      spark.sql(s"ALTER TABLE ${tableName(streamName)} ADD COLUMNS ($colsDdl)")
      spark.catalog.refreshTable(tableName(streamName))
    }
  }

  // ------------------------------------------------------------------
  // Write strategies (SURVEY §2.10; reference sql_processor.py:983-1208)
  // ------------------------------------------------------------------

  /**
   * Land a batch of records into a stream's final table using the given
   * strategy (AUTO resolved via the catalog). Row tallies are NOT
   * computed here — a forced post-write count is an extra full-table job
   * per sync; callers that want counts read the table lazily
   * (`ReadResult.counts`).
   */
  def writeStream(
      streamName: String,
      batch: DataFrame,
      catalog: ConfiguredCatalog,
      strategy: WriteStrategy = WriteStrategy.Auto): Unit = {
    val method = catalog.resolveWriteMethod(streamName, strategy)
    val t = tableName(streamName)
    method match {
      case WriteStrategy.Append =>
        if (tableExists(streamName)) {
          addMissingColumns(streamName, batch.schema)
          val aligned = Records.project(batch, spark.table(t).schema)
          CacheTables.save(aligned.write.mode(SaveMode.Append), t)
        } else CacheTables.save(batch.write, t)
      case WriteStrategy.Replace =>
        CacheTables.save(batch.write.mode(SaveMode.Overwrite)
          .option("overwriteSchema", "true"), t)
      case WriteStrategy.Merge | WriteStrategy.CdcDelete =>
        val pks = catalog.primaryKeys(streamName)
        val existing =
          if (tableExists(streamName)) {
            addMissingColumns(streamName, batch.schema)
            Some(spark.table(t))
          } else None
        val merged =
          if (method == WriteStrategy.Merge) WriteStrategies.merge(existing, batch, pks)
          else {
            val stream = catalog(streamName)
            // CDC ordering: the stream's cursor (LSN / commit ts) outranks
            // arrival metadata — an out-of-order redelivery within the
            // batch must not resurrect a deleted key.
            WriteStrategies.mergeCdc(existing, batch, pks,
              stream.cdcDeletedAtField.getOrElse("_ab_cdc_deleted_at"),
              stream.cursorField.toSeq ++ Seq(Records.ExtractedAtColumn, Records.RawIdColumn))
          }
        // parquet can't overwrite a table its own plan reads: stage the
        // result once and swap it in by rename
        if (existing.isEmpty) CacheTables.save(merged.write, t)
        else stageAndSwap(merged.write, t, partitioned = false)
      case WriteStrategy.Auto => throw new IllegalStateException("unreachable")
    }
    registerStream(streamName)
  }

  /** Write `writer`'s output to a fresh `__swap_new_*` table and [[swap]]
    * it in for `target`. A failed write leaves `target` untouched. */
  private def stageAndSwap(writer: DataFrameWriter[Row], target: String,
      partitioned: Boolean): Unit = {
    // time-sortable 9-char ULID slice, the reference's temp-name suffix
    // discipline (sql_processor.py:592-612) — concurrent swap artifacts
    // list in creation order
    val staged = s"__swap_new_${graft.names.Ulid.randomSuffix()}"
    CacheTables.save(writer, s"`$database`.`$staged`")
    swap(staged, target, partitioned)
  }

  /**
   * Replace table `target` with the staged table `staged` (a name in this
   * database) by two metadata-only renames — the reference's temp/final
   * swap (sql_processor.py:1061-1087). Rollback-safe: if the staged table
   * can't take `target`'s name, the original is renamed back and the
   * staged table dropped, so `target` keeps its rows under its own name
   * and no `__*` table is left; the error propagates.
   *
   * Partition metadata stores ABSOLUTE directory paths and a rename does
   * not rewrite them, so a `partitioned` table is re-synced from its new
   * directory after each rename (metadata-only listing); otherwise a later
   * DROP would purge the paths its stale metadata still points at: the
   * *new* table's data.
   */
  private[graft] def swap(staged: String, target: String, partitioned: Boolean): Unit = {
    def qualified(name: String) = s"`$database`.`$name`"
    def repair(table: String): Unit =
      if (partitioned) spark.sql(s"MSCK REPAIR TABLE $table SYNC PARTITIONS")
    val old = qualified(s"__swap_old_${graft.names.Ulid.randomSuffix()}")
    try spark.sql(s"ALTER TABLE $target RENAME TO $old")
    catch {
      case e: Throwable =>
        spark.sql(s"DROP TABLE IF EXISTS ${qualified(staged)}"); throw e
    }
    repair(old)
    try spark.sql(s"ALTER TABLE ${qualified(staged)} RENAME TO $target")
    catch {
      case e: Throwable => // restore the original under its name
        spark.sql(s"ALTER TABLE $old RENAME TO $target")
        repair(target)
        spark.sql(s"DROP TABLE IF EXISTS ${qualified(staged)}")
        throw e
    }
    repair(target)
    spark.sql(s"DROP TABLE IF EXISTS $old")
  }

  // Registration is idempotent per (source, stream): memoize so repeat
  // syncs of the same stream skip the 1-row append job (~0.3 s each).
  private val registered = scala.collection.mutable.Set.empty[(String, String)]

  private def registerStream(streamName: String, sourceName: String = "default"): Unit =
    preRegisterStreams(Seq(streamName), sourceName)

  /** Register a batch of streams with ONE append job. A multi-stream
    * sync otherwise pays a 1-row registration write per stream (~0.3 s
    * each — for the 22-stream smoke gauntlet that was half the sync
    * wall); callers that know the selection up front register it in
    * bulk and the per-stream path becomes a memoized no-op. */
  def preRegisterStreams(streamNames: Seq[String], sourceName: String = "default"): Unit = {
    import spark.implicits._
    val fresh = streamNames.filterNot(s => registered((sourceName, s)))
    if (fresh.isEmpty) return
    metaTable(StreamsTable, streamsSchema)
    val rows = fresh.map(s => (sourceName, s, tableName(s), "{}"))
      .toDF("source_name", "stream_name", "table_name", "catalog_json")
      .withColumn("registered_at", current_timestamp())
    CacheTables.save(rows.write.mode(SaveMode.Append), s"`$database`.`$StreamsTable`")
    fresh.foreach(s => registered.add((sourceName, s)))
  }

  // ------------------------------------------------------------------
  // State backend (reference _state_backend.py; last-write-wins per
  // (source, stream); SURVEY ST2/ST3)
  // ------------------------------------------------------------------

  def writeState(sourceName: String, streamName: String, stateJson: String): Unit = {
    import spark.implicits._
    metaTable(StateTable, stateSchema)
    CacheTables.save(Seq((sourceName, streamName, stateJson))
      .toDF("source_name", "stream_name", "state_json")
      .withColumn("updated_at", current_timestamp())
      .write.mode(SaveMode.Append), s"`$database`.`$StateTable`")
  }

  /** Latest state per stream for a source (last-write-wins). */
  def latestState(sourceName: String, streamName: String): Option[String] = {
    import spark.implicits._
    if (!metaTableExists(StateTable)) return None
    spark.table(s"`$database`.`$StateTable`")
      .filter(col("source_name") === sourceName && col("stream_name") === streamName)
      .orderBy(col("updated_at").desc)
      .select("state_json").as[String].take(1).headOption
  }

  // ------------------------------------------------------------------
  // SQL pass-through (reference caches/base.py:195-241 + read-only guard
  // mcp/local.py:753-786; Q1/Q2/P6)
  // ------------------------------------------------------------------

  private val ReadOnlyPrefixes = Seq("select", "describe", "show", "explain", "with")

  /** Reject non-read-only / multi-statement SQL (reference P6 guard). */
  def checkReadOnly(sql: String): Unit = {
    val trimmed = sql.trim
    val body = if (trimmed.endsWith(";")) trimmed.dropRight(1) else trimmed
    if (body.contains(";"))
      throw new graft.errors.CacheSqlGuardError(
        "Multiple statements are not allowed", "multi_statement")
    val first = body.split("\\s+").headOption.map(_.toLowerCase(java.util.Locale.ROOT)).getOrElse("")
    if (!ReadOnlyPrefixes.contains(first))
      throw new graft.errors.CacheSqlGuardError(
        s"Only read-only queries are allowed (got: $first)", first)
  }

  /** `run_sql_query` equivalent: guarded, optional row cap. The USE is
    * scoped to query analysis — the session's current database is
    * restored afterwards (the plan is resolved eagerly, so restoring
    * before execution is safe), keeping a shared SparkSession's
    * resolution state unperturbed. */
  def runSqlQuery(sql: String, maxRecords: Option[Int] = None): DataFrame = {
    checkReadOnly(sql)
    val prior = spark.catalog.currentDatabase
    spark.sql(s"USE `$database`")
    try {
      val df = spark.sql(sql.trim.stripSuffix(";"))
      maxRecords.map(df.limit).getOrElse(df)
    } finally if (prior != database) spark.sql(s"USE `$prior`")
  }

  /** Drop the cache database. If it is the session's CURRENT database,
    * fall back to `default` first — dropping the current schema would
    * otherwise leave the session unable to resolve any unqualified
    * table name (SCHEMA_NOT_FOUND on the next saveAsTable). */
  def dropAll(): Unit = {
    if (spark.catalog.currentDatabase == database) spark.sql("USE `default`")
    spark.sql(s"DROP DATABASE IF EXISTS `$database` CASCADE")
  }

  /**
   * Re-attach tables written by a PREVIOUS JVM. The reference re-opens
   * a cache from its persisted catalog so it can be queried without
   * the source present (`_catalog_backend.py:33-247`; SURVEY §1.2);
   * Spark's in-memory session catalog forgets managed tables on
   * restart even though the warehouse directories survive. Scans the
   * database location and registers every parquet table directory the
   * catalog doesn't know (schema inferred from the files; partitioned
   * layouts get an MSCK REPAIR so pruning keeps working). Directories
   * that can't be read as parquet are skipped, not fatal. Returns the
   * re-attached table names.
   */
  def reopen(): Seq[String] = {
    val dbPath = new org.apache.hadoop.fs.Path(
      spark.catalog.getDatabase(database).locationUri)
    val fs = dbPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(dbPath)) return Seq.empty
    fs.listStatus(dbPath).filter(_.isDirectory).toSeq.flatMap { st =>
      val t = st.getPath.getName
      if (t.startsWith("__")) None // `__swap_*` leftovers of an interrupted swap
      else if (spark.catalog.tableExists(s"`$database`.`$t`")) None
      else
        try {
          val partitioned = fs.listStatus(st.getPath)
            .exists(s => s.isDirectory && s.getPath.getName.contains("="))
          CacheTables.attach(spark, s"`$database`.`$t`", st.getPath.toString)
          if (partitioned) spark.sql(s"MSCK REPAIR TABLE `$database`.`$t`")
          Some(t)
        } catch { case _: Exception => None }
    }
  }

  // ------------------------------------------------------------------
  // Maintenance: the two table-ops a long-lived cache needs at scale.
  // Append/merge syncs accrete small files (tasks × syncs); old
  // partitions accrete forever. Compaction rewrites once and swaps by
  // rename (the same [[swap]] as merge); retention drops whole
  // partition DIRECTORIES — no data rewrite at all.
  // ------------------------------------------------------------------

  /**
   * Rewrite a stream's table into ≈`targetFileBytes`-sized files
   * (small-file compaction). One data pass + a metadata rename swap.
   * A partitioned table keeps its partition spec: rows are clustered by
   * the partition columns (one output file per partition directory) and
   * rewritten with the same `partitionBy`, so `SHOW PARTITIONS` /
   * partition pruning keep working after compaction. The swap is
   * [[swap]], rollback-safe like every merge's. Returns the file count
   * after compaction.
   */
  def compactTable(streamName: String, targetFileBytes: Long = 128L << 20): Int = {
    val t = tableName(streamName)
    val df = spark.table(t)
    val partCols = spark.catalog.listColumns(t).collect()
      .filter(_.isPartition).map(_.name).toSeq
    val fs = new org.apache.hadoop.fs.Path(df.inputFiles.headOption.getOrElse(
      throw new IllegalStateException(s"$t has no files")))
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val bytes = df.inputFiles.map(f =>
      fs.getFileStatus(new org.apache.hadoop.fs.Path(f)).getLen).sum
    val nFiles = math.max(1, math.ceil(bytes.toDouble / targetFileBytes).toInt)
    val writer =
      if (partCols.isEmpty) df.repartition(nFiles).write
      else df.repartition(partCols.map(org.apache.spark.sql.functions.col): _*)
        .write.partitionBy(partCols: _*)
    stageAndSwap(writer, t, partitioned = partCols.nonEmpty)
    spark.catalog.refreshTable(t)
    spark.table(t).inputFiles.length
  }

  /**
   * Compute table + column statistics for Catalyst's cost-based
   * optimizer. After a large sync, row counts / sizes / per-column NDV
   * and min-max let the planner pick broadcast sides and join orders
   * from DATA rather than the 10 MB `autoBroadcastJoinThreshold` file-
   * size guess — the difference between a broadcast and a 100 TB
   * sort-merge when a filtered dimension shrinks below the threshold.
   * One scan (`ANALYZE ... FOR ALL COLUMNS` computes every column in a
   * single aggregation pass). Returns the catalog row count.
   */
  def analyzeTable(streamName: String, columns: Boolean = true): Option[Long] = {
    val t = tableName(streamName)
    if (columns)
      spark.sql(s"ANALYZE TABLE $t COMPUTE STATISTICS FOR ALL COLUMNS")
    else
      spark.sql(s"ANALYZE TABLE $t COMPUTE STATISTICS")
    spark.sql(s"DESCRIBE EXTENDED $t").collect()
      .find(_.getString(0) == "Statistics")
      .flatMap { r =>
        "(\\d+) rows".r.findFirstMatchIn(r.getString(1)).map(_.group(1).toLong)
      }
  }

  /**
   * Retention for a partitioned stream table: drop every partition whose
   * value sorts strictly below `cutoff` (ISO dates compare
   * lexicographically). Partition-directory deletes only — cost is
   * proportional to partitions dropped, not table size.
   * Returns the dropped partition values.
   */
  def expirePartitions(streamName: String, partCol: String, cutoff: String): Seq[String] = {
    import spark.implicits._
    val t = tableName(streamName)
    val rows = spark.sql(s"SHOW PARTITIONS $t").as[String].collect().toSeq
    // Single-level `partCol=value` specs only: a multi-column partition
    // spec (contains '/') or a different leading column would otherwise
    // silently mis-parse into bogus DROP statements.
    val bad = rows.filterNot(r => r.startsWith(s"$partCol=") && !r.contains("/"))
    if (bad.nonEmpty)
      throw new IllegalArgumentException(
        s"expirePartitions needs single-column `$partCol=` partitions; got: ${bad.head}")
    // SHOW PARTITIONS prints path-escaped values (' → %27): unescape
    // before comparing/dropping or special characters silently no-op
    val parts = rows.map(r =>
      org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
        .unescapePathName(r.stripPrefix(s"$partCol=")))
      .filter(_ < cutoff)
    parts.foreach { v =>
      val esc = v.replace("'", "''") // SQL string-literal escape
      spark.sql(s"ALTER TABLE $t DROP IF EXISTS PARTITION (`$partCol` = '$esc')")
    }
    spark.catalog.refreshTable(t)
    parts
  }
}

object SparkCache {

  /**
   * Create a cache database guaranteed fresh even when a previous JVM left
   * files behind: `DROP DATABASE` in a new session's in-memory catalog
   * does not remove an unregistered leftover warehouse directory, so a
   * later table creation would fail with LOCATION_ALREADY_EXISTS. We give
   * the database an explicit location and physically clear it.
   */
  def fresh(spark: SparkSession, name: String,
      location: Option[String] = None): SparkCache = {
    spark.sql(s"DROP DATABASE IF EXISTS `$name` CASCADE")
    val base = location.map(new org.apache.hadoop.fs.Path(_)).getOrElse(
      new org.apache.hadoop.fs.Path(
        spark.conf.get("spark.sql.warehouse.dir"), s"$name.db"))
    val fs = base.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(base)) fs.delete(base, true)
    new SparkCache(spark, name, location = location)
  }
}
