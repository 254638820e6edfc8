package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression

/**
 * Bridge into Spark's `private[sql]` Column↔Expression conversions
 * (Spark 4 moved `Column` onto ColumnNode; the classic bridge lives in
 * `org.apache.spark.sql.classic.ExpressionUtils`). Public Spark API offers
 * no supported way to build a Column from a custom Catalyst Expression, so
 * custom expressions (e.g. graft's UUIDv7) need this one-file shim.
 */
object GraftBridge {
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)

  /** `AbstractDataType` is `private[sql]`; expressions outside this
    * package that mix in ExpectsInputTypes need their input-type list
    * built here. */
  def longInputTypes(n: Int): Seq[types.AbstractDataType] =
    Seq.fill(n)(types.LongType)

  /** Blocks until every event posted so far has reached every listener,
    * or `timeoutMs` passes (then throws). `SparkContext.listenerBus` is
    * `private[spark]`. */
  def drainListenerBus(sc: org.apache.spark.SparkContext, timeoutMs: Long): Unit =
    sc.listenerBus.waitUntilEmpty(timeoutMs)

  /**
   * Distributed Arrow IPC export (reference S11, `caches/base.py:292-322`
   * — chunked `to_arrow`): each partition's rows become self-describing
   * Arrow record batches of ≤`maxRecordsPerBatch` rows (the reference's
   * 100k chunk default), produced IN PARALLEL on executors. The bytes
   * are the standard IPC wire format any Arrow client (pandas, polars,
   * DuckDB, Flight) consumes. `private[sql]` machinery, hence this shim.
   */
  def toArrowBatches(
      df: DataFrame,
      maxRecordsPerBatch: Long = 100000L): org.apache.spark.rdd.RDD[Array[Byte]] = {
    val schema = df.schema
    val tz = df.sparkSession.sessionState.conf.sessionLocalTimeZone
    df.queryExecution.toRdd.mapPartitions { it =>
      execution.arrow.ArrowConverters.toBatchWithSchemaIterator(
        it, schema, maxRecordsPerBatch, Long.MaxValue, tz,
        true, false)
    }
  }

  /** Schema of a self-describing Arrow IPC batch, read from its
    * leading schema message alone — no record-batch decode, no
    * allocator, nothing to close (the previous probe decoded a full
    * batch with a null TaskContext, whose allocator was never
    * released — driver direct memory leaked per call). */
  private def schemaOfBatch(batch: Array[Byte]): types.StructType = {
    val ch = new org.apache.arrow.vector.ipc.ReadChannel(
      java.nio.channels.Channels.newChannel(
        new java.io.ByteArrayInputStream(batch)))
    util.ArrowUtils.fromArrowSchema(
      org.apache.arrow.vector.ipc.message.MessageSerializer.deserializeSchema(ch))
  }

  /** Distributed inverse of [[toArrowBatches]]: an RDD of
    * self-describing Arrow batches back to a DataFrame WITHOUT passing
    * through the driver — each partition decodes its own batches on
    * the executor (the return path of an external-worker transform).
    *
    * The batch RDD is persisted before the driver's schema probe, so a
    * side-effecting upstream (an external worker) runs at most ONCE
    * per partition — never abandoned mid-stream; the probe itself only
    * parses the leading schema message (no allocator to leak). The
    * decoded rows are materialized eagerly and the raw batch blocks
    * unpersisted right away, so a long-lived session doesn't
    * accumulate both representations (the row RDD then follows the
    * repo-wide localCheckpoint lifecycle: dropped by the context
    * cleaner with the DataFrame). `emptySchema` is the result schema
    * when the input produces no batches at all (an empty DataFrame
    * must come back empty, not throw). The executor-side decode passes
    * the live TaskContext so Arrow's allocator registers its
    * task-completion cleanup (a partially-consumed iterator — limit/
    * take — must not leak direct memory). */
  def fromArrowBatchesRdd(spark: SparkSession,
      rdd: org.apache.spark.rdd.RDD[Array[Byte]],
      emptySchema: => types.StructType): DataFrame = {
    val session = spark.asInstanceOf[classic.SparkSession]
    val batches = rdd.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val first = batches.take(1)
    if (first.isEmpty) {
      batches.unpersist(blocking = false)
      return session.internalCreateDataFrame(
        session.sparkContext.emptyRDD[org.apache.spark.sql.catalyst.InternalRow],
        emptySchema)
    }
    val schema = schemaOfBatch(first.head)
    val rows = batches.mapPartitions { it =>
      if (!it.hasNext) Iterator.empty
      else {
        val (rs, partSchema) =
          execution.arrow.ArrowConverters.fromBatchWithSchemaIterator(
            it, org.apache.spark.TaskContext.get())
        val proj =
          org.apache.spark.sql.catalyst.expressions.UnsafeProjection.create(partSchema)
        rs.map(r =>
          proj(r).copy().asInstanceOf[org.apache.spark.sql.catalyst.InternalRow])
      }
    }
    // localCheckpoint (repo-wide lineage lifecycle) rather than persist:
    // once the batch blocks are dropped below, a plain persist would
    // RECOMPUTE a lost rows partition from the source RDD — re-running
    // the side-effecting external worker the materialization exists to
    // guard. Checkpointing truncates lineage so a lost partition fails
    // loudly instead of silently re-invoking the worker, and the blocks
    // follow the context-cleaner lifecycle with the DataFrame.
    rows.localCheckpoint()
    rows.count() // materialize the checkpoint, then drop the raw batches
    batches.unpersist(blocking = false)
    session.internalCreateDataFrame(rows, schema)
  }

  /** Inverse of [[toArrowBatches]]: self-describing Arrow batches back
    * to a DataFrame (schema read from the batches themselves). */
  def fromArrowBatches(spark: SparkSession, batches: Iterator[Array[Byte]]): DataFrame = {
    val (rows, schema) =
      execution.arrow.ArrowConverters.fromBatchWithSchemaIterator(batches, null)
    val session = spark.asInstanceOf[classic.SparkSession]
    // batch-backed rows are reused buffers — copy through a projection
    val proj = org.apache.spark.sql.catalyst.expressions.UnsafeProjection.create(schema)
    val copied = rows.map(r =>
      proj(r).copy().asInstanceOf[org.apache.spark.sql.catalyst.InternalRow]).toSeq
    session.internalCreateDataFrame(session.sparkContext.parallelize(copied), schema)
  }
}
