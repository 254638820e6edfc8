package graftbench

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** Engine counters from a listener the benchmark owns. Every read goes
  * through [[settle]], which drains the listener bus and then waits until
  * every started job has ended, so a late job event cannot leak into the
  * next operation's counts. */
final class SparkCounters extends SparkListener {
  private var started, ended, stages, tasks = 0L
  private var shuffleBytes, spillBytes, inputBytes = 0L
  private var schedDelayMs, runMs = 0L

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized { started += 1 }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized { ended += 1; notifyAll() }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized { stages += 1 }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    tasks += 1
    val m = e.taskMetrics
    if (m != null) {
      shuffleBytes += m.shuffleWriteMetrics.bytesWritten
      spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      inputBytes += m.inputMetrics.bytesRead
      runMs += m.executorRunTime
      // the scheduler delay Spark's UI reports for a task
      val info = e.taskInfo
      val gettingResult =
        if (info.gettingResultTime > 0) info.finishTime - info.gettingResultTime else 0L
      schedDelayMs += math.max(0L, info.duration - m.executorRunTime -
        m.executorDeserializeTime - m.resultSerializationTime - gettingResult)
    }
  }

  /** Drain the bus, then block until started == ended. */
  def settle(sc: SparkContext): Unit = {
    org.apache.spark.graftbench.BusSettle.drain(sc, 60000L)
    val deadline = System.currentTimeMillis() + 60000L
    synchronized {
      while (started != ended) {
        val left = deadline - System.currentTimeMillis()
        if (left <= 0) throw new IllegalStateException(
          s"listener did not settle: $started jobs started, $ended ended")
        wait(left)
      }
    }
  }

  def snapshot(sc: SparkContext): Map[String, Double] = {
    settle(sc)
    synchronized(Map(
      "jobs" -> ended.toDouble, "stages" -> stages.toDouble, "tasks" -> tasks.toDouble,
      "shuffle_bytes" -> shuffleBytes.toDouble, "spill_bytes" -> spillBytes.toDouble,
      "input_bytes" -> inputBytes.toDouble, "sched_delay_s" -> schedDelayMs / 1e3,
      "run_s" -> runMs / 1e3))
  }
}

/**
 * What one run measures: per-op latencies and failures, the wall time of
 * measured work, sync volume, and (traced runs only) per-layer sums,
 * engine counts per op and cache-directory growth per op.
 */
final class Recorder(sc: SparkContext, cacheDir: String, wrongExpectation: Boolean) {
  val latencies = mutable.ArrayBuffer.empty[Double]
  var attempted, failed = 0L
  val failures = mutable.ArrayBuffer.empty[String]
  var workS = 0.0
  var syncRecords, syncBytes = 0L
  var syncS = 0.0
  val layers = mutable.LinkedHashMap.empty[String, Double].withDefaultValue(0.0)
  val engine = mutable.LinkedHashMap.empty[String, Double].withDefaultValue(0.0)
  var filesWritten, bytesWritten, recordsWritten = 0L

  private var counters: Option[SparkCounters] = None
  def tracing: Boolean = counters.nonEmpty

  def startTrace(): Unit = {
    val c = new SparkCounters
    sc.addSparkListener(c)
    c.settle(sc)
    counters = Some(c)
  }

  def stopTrace(): Unit = { counters.foreach(sc.removeSparkListener); counters = None }

  /** Clears every figure, keeping the trace state. */
  def reset(): Unit = {
    latencies.clear(); attempted = 0; failed = 0; failures.clear(); workS = 0
    syncRecords = 0; syncBytes = 0; syncS = 0
    layers.clear(); engine.clear()
    filesWritten = 0; bytesWritten = 0; recordsWritten = 0
  }

  def layer(name: String, seconds: Double): Unit = if (tracing) layers(name) += seconds

  /** Times one unit of measured work. Traced runs also attribute the
    * engine counters and the cache files written inside the window;
    * settling and listing happen outside the timed part. */
  def timed[T](records: Long = 0L)(body: => T): (T, Double) = {
    val before = counters.map(_.snapshot(sc))
    val files0 = if (tracing) Recorder.listing(cacheDir) else Map.empty[String, Long]
    val t0 = System.nanoTime()
    val out = body
    val dt = (System.nanoTime() - t0) / 1e9
    workS += dt
    for (c <- counters; b <- before) {
      val after = c.snapshot(sc)
      after.foreach { case (k, v) => engine(k) += v - b(k) }
      val files1 = Recorder.listing(cacheDir)
      val fresh = files1.filter { case (p, n) => !files0.get(p).contains(n) }
      filesWritten += fresh.size
      bytesWritten += fresh.values.sum
      recordsWritten += records
    }
    (out, dt)
  }

  /** An expected (rows, checksum) as the checks see it: off by one row
    * when the self-test asks for a deliberately wrong expectation. */
  def expect(rowsAndSum: (Long, Long)): (Long, Long) =
    if (wrongExpectation) (rowsAndSum._1 + 1, rowsAndSum._2) else rowsAndSum

  /** Registers finished ops with their verdicts (None = correct). */
  def ops(results: Seq[(Double, Option[String])], label: String): Unit =
    results.foreach { case (dt, err) =>
      latencies += dt
      attempted += 1
      err.foreach { e =>
        failed += 1
        if (failures.size < 20) failures += s"$label: $e"
      }
    }

  /** Listener counts between two snapshots, for a probe outside any op. */
  def probe[T](body: => T): (T, Double, Map[String, Double]) = {
    val before = counters.map(_.snapshot(sc)).getOrElse(Map.empty)
    val t0 = System.nanoTime()
    val out = body
    val dt = (System.nanoTime() - t0) / 1e9
    val after = counters.map(_.snapshot(sc)).getOrElse(Map.empty)
    (out, dt, after.map { case (k, v) => k -> (v - before.getOrElse(k, 0.0)) })
  }
}

object Recorder {
  /** Every regular file under `dir` with its size. */
  def listing(dir: String): Map[String, Long] = {
    val root = java.nio.file.Paths.get(dir)
    if (!java.nio.file.Files.exists(root)) return Map.empty
    val s = java.nio.file.Files.walk(root)
    try {
      val b = Map.newBuilder[String, Long]
      s.filter(p => java.nio.file.Files.isRegularFile(p))
        .forEach(p => b += p.toString -> java.nio.file.Files.size(p))
      b.result()
    } finally s.close()
  }

  def bytesUnder(dir: String): Long = listing(dir).values.sum

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0
    else if (s.size % 2 == 1) s(s.size / 2)
    else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }
}
