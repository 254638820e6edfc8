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

  /** Row count of `df` in one job with no exchange. */
  def count(df: DataFrame): Long = countEach(Seq(df)).head

  /**
   * Row counts of several frames in one SQL execution and one job, as
   * `RDD.count` does: the frames run as one union, each row tagged with
   * its frame's index, and each task counts its partition's rows per
   * tag for the driver to sum. Column pruning leaves each scan reading
   * only the columns its filters need. `Dataset.count` instead runs
   * `groupBy().count()`: a partial aggregate, an `Exchange
   * SinglePartition` and a final aggregate, which AQE runs as 2 jobs.
   * A frame whose own plan has exchanges still runs its stage jobs first.
   */
  def countEach(dfs: Seq[DataFrame]): Seq[Long] = {
    if (dfs.isEmpty) return Seq.empty
    val n = dfs.size
    val plan = dfs.zipWithIndex.map { case (df, i) => df.select(functions.lit(i)) }
      .reduce(_ union _)
    val qe = plan.queryExecution
    val perPartition = execution.SQLExecution.withNewExecutionId(qe, Some("count")) {
      plan.sparkSession.sparkContext.runJob(qe.toRdd, (it: Iterator[catalyst.InternalRow]) => {
        val c = new Array[Long](n)
        it.foreach(r => c(r.getInt(0)) += 1)
        c
      })
    }
    (0 until n).map(i => perPartition.map(_(i)).sum)
  }

  /**
   * Partitions per fetch job of [[localIterator]], from the largest
   * compressed partition fetched so far (0 before the first fetch): as
   * many as fit into half of `spark.driver.maxResultSize` (0 means no
   * limit), clamped to `1..parallelism`. Half, so task metrics and
   * framing never tip a job's results over the limit.
   */
  def iteratorChunk(largestPartition: Long, maxResultSize: Long, parallelism: Int): Int = {
    val most = math.max(1, parallelism)
    if (maxResultSize <= 0 || largestPartition <= 0) most
    else (maxResultSize / 2 / largestPartition).max(1L).min(most.toLong).toInt
  }

  /**
   * The rows of `ds` on the driver, in partition order, fetched one chunk
   * of partitions per job. The tasks of a chunk run in parallel and at
   * most one chunk is buffered on the driver; the next chunk's job starts
   * when the buffered one is used up. Each job is one SQL execution.
   * Spark's own local iterator instead runs one job per partition, one
   * after another.
   *
   * Chunks are sized from measured bytes, not plan statistics: the first
   * takes `parallelism` partitions, later ones follow [[iteratorChunk]]
   * over the largest partition seen. A task of a k-partition chunk
   * returns its rows only if they compress to at most half the
   * `spark.driver.maxResultSize` over k, else just their size; such a
   * partition and the ones after it are fetched again in smaller chunks.
   * A one-partition chunk has no cap, so a job never holds more than the
   * old one-partition-per-job iterator could.
   */
  def localIterator[T](ds: Dataset[T]): Iterator[T] = {
    val d = ds.asInstanceOf[classic.Dataset[T]]
    val qe = d.queryExecution
    val sc = d.sparkSession.sparkContext
    val limit = sc.conf.get(org.apache.spark.internal.config.MAX_RESULT_SIZE)
    val codec = org.apache.spark.io.CompressionCodec.createCodec(sc.conf)
    val fromRow = d.exprEnc
      .resolveAndBind(d.logicalPlan.output, d.sparkSession.sessionState.analyzer)
      .createDeserializer()
    val width = d.logicalPlan.output.size
    var numPartitions = -1 // known once the first execution plans the query
    var next = 0 // the first partition not fetched yet
    var largest = 0L
    /** The partitions from `next` on that fit their chunk's cap; None once
      * every partition is fetched. */
    def fetchChunk(): Option[Seq[Array[Byte]]] =
      if (next == numPartitions) None
      else execution.SQLExecution.withNewExecutionId(qe, Some("localIterator")) {
        if (numPartitions < 0) numPartitions = qe.toRdd.partitions.length
        val k = iteratorChunk(largest, limit, sc.defaultParallelism).min(numPartitions - next)
        Option.when(k > 0) {
          val cap = if (k == 1 || limit <= 0) Long.MaxValue else limit / 2 / k
          val parts = sc.runJob(qe.toRdd, encodeRows(cap), next until next + k)
          largest = largest.max(parts.map(_._1).max)
          val fits = parts.toSeq.takeWhile(_._2 != null).map(_._2)
          next += fits.size
          fits
        }
      }
    Iterator.continually(fetchChunk()).takeWhile(_.isDefined)
      .flatMap(_.get.iterator.flatMap(decodeRows(_, width, codec)))
      .map(fromRow)
  }

  /** A partition's rows compressed as Spark's collect sends them (each
    * UnsafeRow's size, then its bytes; -1 ends it), with the compressed
    * size. The bytes are null when the size passes `cap`. The size is
    * known inside the task only through this framing. */
  private def encodeRows(cap: Long): Iterator[catalyst.InternalRow] => (Long, Array[Byte]) = { it =>
    val bytes = new java.io.ByteArrayOutputStream()
    val out = new java.io.DataOutputStream(org.apache.spark.io.CompressionCodec
      .createCodec(org.apache.spark.SparkEnv.get.conf).compressedOutputStream(bytes))
    val buf = new Array[Byte](4096)
    it.foreach { r =>
      val row = r.asInstanceOf[catalyst.expressions.UnsafeRow]
      out.writeInt(row.getSizeInBytes)
      row.writeToStream(out, buf)
    }
    out.writeInt(-1)
    out.close()
    val size = bytes.size.toLong
    (size, if (size > cap) null else bytes.toByteArray)
  }

  /** The rows of one [[encodeRows]] array. */
  private def decodeRows(bytes: Array[Byte], width: Int,
      codec: org.apache.spark.io.CompressionCodec): Iterator[catalyst.InternalRow] = {
    val in = new java.io.DataInputStream(
      codec.compressedInputStream(new java.io.ByteArrayInputStream(bytes)))
    Iterator.continually(in.readInt()).takeWhile { size =>
      if (size < 0) in.close()
      size >= 0
    }.map { size =>
      val row = new catalyst.expressions.UnsafeRow(width)
      val data = new Array[Byte](size)
      in.readFully(data)
      row.pointTo(data, size)
      row
    }
  }

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
