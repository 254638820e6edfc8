package graft.tools

import java.nio.file.{Files, Paths}

import scala.annotation.tailrec

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}
import org.apache.spark.sql.{GraftBridge, SparkSession}
import org.apache.spark.sql.execution.ExplainMode

import graft.{GraftSession, SparkEntry}

/**
 * The one developer probe over `SparkEntry.queries`:
 *
 *   runMain graft.tools.Probe <mode> [--dir D] [--conf k=v]... [mode flags] [query...]
 *
 * Every timed or counted mode runs each query once to warm the session
 * and reports the second run, through the `noop` sink so the whole plan
 * executes. The query call itself is inside the timer: pipeline queries
 * do their table writes in the call.
 */
object Probe {
  private val usage: String =
    """usage: Probe <mode> [--dir D] [--conf k=v]... [mode flags] [query...]
      |  (--dir is required by every mode that takes queries)
      |  plan [--full] q...        exchange lines (or, with --full, all) of each final plan
      |  dump [--out O] [--tag T] q...
      |                            write O/<q>_T.txt: formatted explain + final plan
      |  time [--vs DIR] q...      wall time at D (and at DIR, with the DIR/D ratio)
      |  jobs q...                 Spark jobs launched and wall time
      |  entry                     row count of SparkEntry.entry
      |  ingest                    5e5-record protocol ingest, one JSON line""".stripMargin

  final case class Opts(
      mode: String,
      queries: Seq[String] = Nil,
      dir: String = "",
      confs: Seq[(String, String)] = Nil,
      out: String = "plans",
      tag: String = "probe",
      vs: Option[String] = None,
      full: Boolean = false)

  private val needsQueries = Set("plan", "dump", "time", "jobs")
  private val modes = needsQueries ++ Set("entry", "ingest")
  private val valueFlags = Set("--dir", "--conf", "--out", "--tag", "--vs")
  private val flagMode =
    Map("--full" -> "plan", "--out" -> "dump", "--tag" -> "dump", "--vs" -> "time")

  /** Parses `<mode> [flags] [query...]`; Left carries the reason. */
  def parse(args: Seq[String]): Either[String, Opts] = args.toList match {
    case Nil => Left("no mode given")
    case mode :: _ if !modes(mode) => Left(s"unknown mode '$mode'")
    case mode :: rest =>
      @tailrec def go(as: List[String], o: Opts): Either[String, Opts] = as match {
        case Nil => Right(o)
        case f :: _ if flagMode.get(f).exists(_ != mode) =>
          Left(s"$f applies only to ${flagMode(f)}")
        case f :: Nil if valueFlags(f) => Left(s"$f needs a value")
        case "--full" :: t => go(t, o.copy(full = true))
        case "--dir" :: v :: t => go(t, o.copy(dir = v))
        case "--out" :: v :: t => go(t, o.copy(out = v))
        case "--tag" :: v :: t => go(t, o.copy(tag = v))
        case "--vs" :: v :: t => go(t, o.copy(vs = Some(v)))
        case "--conf" :: kv :: t => kv.split("=", 2) match {
          case Array(k, v) if k.nonEmpty => go(t, o.copy(confs = o.confs :+ (k -> v)))
          case _ => Left(s"--conf wants k=v, got '$kv'")
        }
        case f :: _ if f.startsWith("--") => Left(s"unknown flag $f")
        case q :: t => go(t, o.copy(queries = o.queries :+ q))
      }
      go(rest, Opts(mode)).flatMap { o =>
        val unknown = o.queries.filterNot(SparkEntry.queries.contains)
        if (unknown.nonEmpty) Left(s"unknown queries: ${unknown.mkString(", ")}")
        else if (needsQueries(mode) && o.queries.isEmpty) Left(s"$mode needs a query name")
        else if (needsQueries(mode) && o.dir.isEmpty) Left(s"$mode needs --dir")
        else if (!needsQueries(mode) && o.queries.nonEmpty) Left(s"$mode takes no query names")
        else Right(o)
      }
  }

  def main(args: Array[String]): Unit = {
    val opts = parse(args.toSeq).fold({ msg =>
      System.err.println(s"[probe] $msg\n$usage")
      sys.exit(2)
    }, identity)
    val spark = GraftSession.local()
    try run(spark, opts)
    finally spark.stop()
  }

  /** Runs one probe in `spark` (never stops it); `--conf` values stay set. */
  def run(spark: SparkSession, o: Opts): Unit = {
    o.confs.foreach { case (k, v) => spark.conf.set(k, v) }
    o.mode match {
      case "plan" => o.queries.foreach { q =>
        println(s"=== $q")
        val plan = finalPlan(spark, q, o.dir).toString
        if (o.full) plan.linesIterator.foreach(l => println("  " + l))
        else plan.linesIterator
          .filter(_.toLowerCase(java.util.Locale.ROOT).contains("exchange"))
          .foreach(l => println("  " + l.trim.take(140)))
      }
      case "dump" =>
        Files.createDirectories(Paths.get(o.out))
        o.queries.foreach { q =>
          val df = SparkEntry.queries(q)(spark, o.dir)
          val formatted = df.queryExecution.explainString(ExplainMode.fromString("formatted"))
          df.collect()
          val text = s"== $q @ ${o.dir} (explain formatted) ==\n" + formatted +
            s"\n== $q AQE-final executed plan ==\n" + df.queryExecution.executedPlan + "\n"
          val path = Paths.get(o.out, s"${q}_${o.tag}.txt")
          Files.write(path, text.getBytes("UTF-8"))
          println(s"[probe] wrote $path")
        }
      case "time" =>
        val dirs = o.dir +: o.vs.toSeq
        println(("query" +: dirs).mkString("\t") + (if (o.vs.isDefined) "\tratio" else ""))
        o.queries.foreach { q =>
          val secs = dirs.map(d => secondRun(exec(spark, q, d)))
          val ratio = if (secs.size == 2) f"\t${secs(1) / secs(0)}%.1fx" else ""
          println((q +: secs.map(s => f"$s%.2f")).mkString("\t") + ratio)
        }
      case "jobs" => o.queries.foreach { q =>
        val (jobs, secs) = secondRun(countJobs(spark)(exec(spark, q, o.dir)))
        println(f"[jobs] $q%-32s jobs=$jobs%-4d wall=$secs%.2f s")
      }
      case "entry" =>
        val df = SparkEntry.entry(spark)
        println(s"ENTRY_ROWS=${df.count()}")
        df.show(5, false)
      case "ingest" =>
        val n = 500000
        val (sec, rps, _) = IngestBench.measure(spark, n)
        println(f"""{"metric":"ingest","records":$n,"sec":$sec%.3f,"records_per_sec":$rps}""")
    }
  }

  private def secondRun[T](f: => T): T = { f; f }

  private def exec(spark: SparkSession, q: String, dir: String): Double = {
    val t0 = System.nanoTime()
    SparkEntry.queries(q)(spark, dir).write.format("noop").mode("overwrite").save()
    (System.nanoTime() - t0) / 1e9
  }

  /** The executed plan after a collect, so AQE has settled on its final plan. */
  private def finalPlan(spark: SparkSession, q: String, dir: String) = {
    val df = SparkEntry.queries(q)(spark, dir)
    df.collect()
    df.queryExecution.executedPlan
  }

  private val settleMs = 60000L

  /** Counts the Spark jobs `body` launches: actions, eager checkpoints and
    * broadcast builds. Settles without sleeps: drain the listener bus,
    * then wait (bounded) until every started job has ended. */
  def countJobs[T](spark: SparkSession)(body: => T): (Int, T) = {
    val sc = spark.sparkContext
    // events of earlier jobs reach the bus's listeners before this one joins
    GraftBridge.drainListenerBus(sc, settleMs)
    val listener = new JobListener
    sc.addSparkListener(listener)
    try {
      val result = body
      GraftBridge.drainListenerBus(sc, settleMs)
      (listener.settled(settleMs), result)
    } finally sc.removeSparkListener(listener)
  }

  private final class JobListener extends SparkListener {
    private var started = 0
    private var ended = 0
    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized { started += 1 }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized { ended += 1; notifyAll() }

    def settled(timeoutMs: Long): Int = synchronized {
      val deadline = System.currentTimeMillis() + timeoutMs
      while (started != ended) {
        val left = deadline - System.currentTimeMillis()
        if (left <= 0) throw new IllegalStateException(
          s"jobs did not settle: $started started, $ended ended")
        wait(left)
      }
      ended
    }
  }
}
