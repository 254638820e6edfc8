package graft

import java.nio.file.{Files, Paths}

import graft.tools.Probe

class ProbeSpec extends SparkTestBase {

  private val q = "q2_filter_pushdown"

  private def parsed(args: String*): Probe.Opts =
    Probe.parse(args).fold(msg => fail(s"parse failed: $msg"), identity)

  private def rejected(args: String*): String =
    Probe.parse(args).fold(identity, o => fail(s"parsed: $o"))

  private def probe(args: String*): String = {
    val buf = new java.io.ByteArrayOutputStream()
    Console.withOut(buf)(Probe.run(spark, parsed(args: _*)))
    buf.toString("UTF-8")
  }

  test("parse: flags, repeated confs and query names") {
    val o = parsed("time", "--dir", "D", "--conf", "a=b=c", q, "--conf", "k=v", "--vs", "BIG")
    assert(o == Probe.Opts("time", queries = Seq(q), dir = "D",
      confs = Seq("a" -> "b=c", "k" -> "v"), vs = Some("BIG")))
    assert(parsed("plan", "--dir", "D", "--full", q).full)
    assert(parsed("dump", "--dir", "D", "--out", "O", "--tag", "T", q).tag == "T")
    assert(parsed("entry") == Probe.Opts("entry"))
  }

  test("parse: a value flag given last is rejected, not indexed past the end") {
    Seq("--dir", "--conf", "--vs").foreach { f =>
      assert(rejected("time", q, f).contains(s"$f needs a value"))
    }
    assert(rejected("dump", q, "--out").contains("--out needs a value"))
  }

  test("parse: unknown flags, modes and queries and a --conf without = are rejected") {
    assert(rejected("plan", "--bogus", q).contains("unknown flag --bogus"))
    assert(rejected("plan", "--conf", "novalue", q).contains("--conf wants k=v"))
    assert(rejected("plan", "--conf", "=v", q).contains("--conf wants k=v"))
    assert(rejected("scale", q).contains("unknown mode"))
    assert(rejected().contains("no mode"))
    assert(rejected("plan", "q0_nope").contains("unknown queries: q0_nope"))
  }

  test("parse: mode-specific flags and query arity are checked") {
    assert(rejected("plan", "--vs", "BIG", q).contains("--vs applies only to time"))
    assert(rejected("time", "--full", q).contains("--full applies only to plan"))
    assert(rejected("jobs", "--dir", "D").contains("jobs needs a query name"))
    assert(rejected("jobs", q).contains("jobs needs --dir"))
    assert(rejected("entry", q).contains("entry takes no query names"))
  }

  test("jobs: a query's job count is positive and identical across back-to-back runs") {
    def run(): Int = Probe.countJobs(spark) {
      SparkEntry.queries(q)(spark, sf()).write.format("noop").mode("overwrite").save()
    }._1
    val counts = Seq.fill(5)(run())
    assert(counts.head > 0 && counts.distinct.size == 1, counts)
  }

  test("jobs: an eager localCheckpoint counts as its own job") {
    def jobs(checkpoint: Boolean): Int = Probe.countJobs(spark) {
      val df = spark.range(1000).toDF("id")
      (if (checkpoint) df.localCheckpoint() else df)
        .write.format("noop").mode("overwrite").save()
    }._1
    assert(jobs(checkpoint = true) == jobs(checkpoint = false) + 1)
  }

  test("plan, dump, time and entry run in a live session without stopping it") {
    val plan = probe("plan", "--dir", sf(), q)
    assert(plan.contains(s"=== $q"))
    assert(plan.linesIterator.exists(_.contains("Exchange")), plan)

    val out = Files.createTempDirectory("graft-probe").toString
    assert(probe("dump", "--dir", sf(), "--out", out, "--tag", "t", q).contains("[probe] wrote"))
    val dumped = Files.readString(Paths.get(out, s"${q}_t.txt"))
    assert(dumped.contains("(explain formatted)"))
    assert(dumped.contains("AdaptiveSparkPlan isFinalPlan=true"), dumped)

    val row = probe("time", "--dir", sf(), q).linesIterator.toSeq
    assert(row.head == s"query\t${sf()}")
    assert(row(1).matches(s"$q\t\\d+\\.\\d{2}"), row)

    val entry = probe("entry")
    val rows = "ENTRY_ROWS=(\\d+)".r.findFirstMatchIn(entry).map(_.group(1).toLong)
    assert(rows.exists(_ > 0), entry)
    assert(!spark.sparkContext.isStopped)
  }
}
