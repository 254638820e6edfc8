package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.cache.CacheTables

/**
 * Streaming trending-terms tracker — decayed heavy hitters over a live
 * text stream (the "what is spiking right now" monitor a crawl
 * ingestion pipeline runs next to the drift monitor): each micro-batch
 * halves every term's accumulated score (integer exponential decay,
 * half-life = one batch) and adds the batch's term counts; the top-k
 * by decayed score is the batch's trending table.
 *
 * Determinism for free: the decay is integer halving (`s div 2`) and
 * the fold is an associative sum, so the state after batch t is a pure
 * function of the batch CONTENTS regardless of partitioning — the spec
 * pins it to a sequential reference. Tie-break on the term string.
 *
 * State design for scale: state is one row per term with a live score
 * (vocabulary-sized, NOT stream-sized) and is re-`localCheckpoint`ed
 * per fold so lineage stays O(1) deep — the same fold-as-append shape
 * as [[StreamingDedup]]'s signature index. Entries whose score decays
 * to zero are dropped, so a term that stops arriving leaves the state
 * after log2(peak) batches: state size tracks the ACTIVE vocabulary.
 * Per-batch work is one map-side-combined term count + one
 * vocabulary-sized merge agg; the trending emit is a bounded top-k
 * heap, not a sort.
 */
final class StreamingTrending(textCol: String, k: Int = 10) {

  @volatile private var state: Option[DataFrame] = None

  /** Current decayed score table: (term, score). */
  def scores: Option[DataFrame] = state

  /** Top-n terms by decayed score from the CURRENT state (no fold) —
    * bounded heap via orderBy+limit (TakeOrderedAndProject). */
  def top(n: Int): Seq[(String, Long)] = state match {
    case Some(s) => s.orderBy(col("score").desc, col("term").asc).limit(n)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    case None => Seq.empty
  }

  /** Merge another shard's decayed scores (associative sum — shards
    * that saw disjoint batch streams combine exactly). */
  def merge(other: StreamingTrending): Unit =
    (state, other.state) match {
      case (Some(a), Some(b)) =>
        state = Some(a.unionByName(b)
          .groupBy(col("term")).agg(sum(col("score")).as("score"))
          .localCheckpoint())
      case (None, b @ Some(_)) => state = b
      case _ => ()
    }

  /** Persist the decayed score table for resume (the StreamingDistinct
    * cache-table convention). */
  def saveTo(cache: graft.cache.SparkCache, name: String): Unit = {
    val spark = cache.spark
    val t = s"`${cache.database}`.`$name`"
    CacheTables.save(state.getOrElse {
      spark.range(0).select(lit("").as("term"), lit(0L).as("score")).limit(0)
    }.write.mode("overwrite"), t)
  }

  /**
   * One micro-batch: fold counts into the decayed state and return the
   * top-k trending rows (rank, term, score, batch_cnt), score = decayed
   * total AFTER this batch, batch_cnt = this batch's raw count.
   */
  def processBatch(batch: DataFrame): DataFrame = {
    val counts = batch
      .select(explode(split(col(textCol), " ")).as("term"))
      .filter(col("term") =!= "")
      .groupBy(col("term")).agg(count(lit(1)).as("cnt"))
    val folded = (state match {
      case Some(s) =>
        s.select(col("term"), (col("score") / 2).cast("long").as("score"),
            lit(0L).as("cnt"))
          .filter(col("score") > 0)
          .unionByName(counts.select(col("term"), col("cnt").as("score"),
            col("cnt")))
      case None => counts.select(col("term"), col("cnt").as("score"), col("cnt"))
    })
      .groupBy(col("term"))
      .agg(sum(col("score")).as("score"), sum(col("cnt")).as("cnt"))
      .localCheckpoint() // sever lineage: state depth stays O(1)
    state = Some(folded.select(col("term"), col("score")))
    // emit: orderBy+limit plans as TakeOrderedAndProject — a bounded
    // per-partition heap merged at the driver, never a global sort; the
    // row_number window then ranks only the k surviving rows.
    import org.apache.spark.sql.expressions.Window
    folded
      .orderBy(col("score").desc, col("term").asc)
      .limit(k)
      .withColumn("rank", row_number().over(
        Window.orderBy(col("score").desc, col("term").asc)).cast("long"))
      .select(col("rank"), col("term"), col("score"),
        col("cnt").as("batch_cnt"))
  }
}

object StreamingTrending {

  /** Restore a persisted score table; fresh instance when absent.
    * `textCol` is the batch column later `processBatch` calls split. */
  def restore(cache: graft.cache.SparkCache, name: String,
      textCol: String, k: Int): StreamingTrending = {
    val t = new StreamingTrending(textCol, k)
    val table = s"`${cache.database}`.`$name`"
    if (cache.spark.catalog.tableExists(table)) {
      val s = cache.spark.table(table)
        .select(org.apache.spark.sql.functions.col("term"),
          org.apache.spark.sql.functions.col("score")
            .cast(org.apache.spark.sql.types.LongType).as("score"))
        .localCheckpoint()
      if (s.count() > 0) t.state = Some(s)
    }
    t
  }
}
