package graft.cache

import org.apache.spark.sql.{DataFrameWriter, Row, SparkSession}

/**
 * The one place a table is created in a cache database.
 *
 * Every cache table is parquet with `compression 'zstd'` stored as a
 * table option. The option is declared when the table is created; later
 * appends (`saveAsTable` in Append mode, `insertInto`) and
 * `ALTER TABLE … RENAME` inherit it from the table's `OPTIONS`, while a
 * per-write option on an append to an existing table is ignored. So the
 * codec is set here, at creation, and the session's
 * `spark.sql.parquet.compression.codec` is left alone.
 */
object CacheTables {

  /** Parquet codec of every cache table. */
  val Codec = "zstd"

  /** `writer.saveAsTable(table)` with the cache codec as a table option. */
  def save(writer: DataFrameWriter[Row], table: String): Unit =
    writer.option("compression", Codec).saveAsTable(table)

  /** Register the parquet directory `location` as `table` (a table the
    * catalog has forgotten, e.g. after a restart). */
  def attach(spark: SparkSession, table: String, location: String): Unit =
    spark.sql(s"CREATE TABLE $table USING PARQUET " +
      s"OPTIONS (compression '$Codec') LOCATION '$location'")
}
