package graft

import org.apache.spark.sql.functions._

import graft.sources.Tables

/** Sketch-based profiling (the 100 TB stats path): HLL++ distinct
  * counts and quantile sketches are partial-aggregable one-pass
  * aggregates — no exact-distinct shuffle, no global sort. Accuracy is
  * contract-tested against exact answers on the test corpus. */
class SketchStatsSpec extends SparkTestBase {

  test("approx_count_distinct within 5% of exact") {
    val docs = Tables.documents(spark, "/root/testdata/sf0.01")
    val r = docs.agg(
      countDistinct(col("text")).as("exact"),
      approx_count_distinct(col("text"), rsd = 0.02).as("approx"))
      .collect()(0)
    val (exact, approx) = (r.getLong(0), r.getLong(1))
    assert(math.abs(approx - exact) <= exact * 0.05,
      s"approx=$approx exact=$exact")
  }

  test("incremental distinct: union of per-batch sketches ≈ global exact") {
    val ev = Tables.events(spark, "/root/testdata/sf0.01")
    // batches = days: sketch each day independently (as successive syncs
    // would), then merge the STORED sketches — no re-scan of raw data
    val sketches = graft.datasets.TableStatistics.distinctSketches(
      ev.withColumn("day", to_date(col("ts"))), "day", "user_id")
    assert(sketches.count() == 30) // one persisted sketch per batch
    val merged = graft.datasets.TableStatistics.mergeDistinct(sketches)
    val exact = ev.select("user_id").distinct().count()
    assert(math.abs(merged - exact) <= math.max(1L, exact / 20),
      s"merged=$merged exact=$exact")
  }

  test("q115 HLL variant: per-day merged sketches within 2% of exact, per target day") {
    val dir = "/root/testdata/sf0.1"
    val exact = graft.queries.EventAnalytics
      .q115RollingDistinct(spark, dir)
      .collect().map(r => r.getDate(0).toString -> r.getLong(1)).toMap
    val approx = graft.queries.EventAnalytics
      .q115RollingDistinctHll(spark, dir)
      .collect().map(r => r.getDate(0).toString -> r.getLong(1)).toMap
    assert(approx.keySet == exact.keySet)
    exact.foreach { case (day, ex) =>
      val ap = approx(day)
      assert(math.abs(ap - ex) <= math.max(1L, math.round(ex * 0.02)),
        s"day=$day approx=$ap exact=$ex")
    }
  }

  test("q147 HLL variant: union estimates within 2%, intersection within 5% of union") {
    val dir = "/root/testdata/sf0.1"
    def collect(df: org.apache.spark.sql.DataFrame) =
      df.collect().map { r =>
        (r.getString(0), r.getString(1)) -> (r.getLong(2), r.getLong(3))
      }.toMap
    val exact = collect(
      graft.queries.CorpusQueries.q147SourceOverlap(spark, dir))
    val approx = collect(
      graft.queries.CorpusQueries.q147SourceOverlapHll(spark, dir))
    assert(approx.keySet == exact.keySet)
    exact.foreach { case (k, (exInter, exUnion)) =>
      val (apInter, apUnion) = approx(k)
      // union is a direct HLL estimate: sketch standard error (~0.8%
      // at lgK=12), bounded at 2%. The intersection is a DIFFERENCE
      // of three estimates, so its error scales with the UNION size,
      // not its own — the principled bound is relative to the union.
      assert(math.abs(apUnion - exUnion) <= math.max(1L, exUnion / 50),
        s"pair=$k union approx=$apUnion exact=$exUnion")
      assert(math.abs(apInter - exInter) <= math.max(1L, exUnion / 20),
        s"pair=$k inter approx=$apInter exact=$exInter (union=$exUnion)")
    }
  }

  test("q147 auto-switches to the HLL plan past the shingle threshold") {
    val dir = "/root/testdata/sf0.01"
    def planOf(df: org.apache.spark.sql.DataFrame) =
      df.queryExecution.analyzed.toString
    // production threshold (2e9): sf0.01 stays on the exact plan
    val exactPlan = planOf(graft.queries.CorpusQueries.q147SourceOverlap(spark, dir))
    assert(!exactPlan.contains("hll_sketch_agg"),
      "sf0.01 under the production threshold must take the exact path")
    // a tiny threshold flips the SAME switch to the sketch plan — the
    // corpus-size probe decides
    val hllPlan = planOf(graft.queries.CorpusQueries
      .q147SourceOverlapAuto(spark, dir, sketchAbove = 1L))
    assert(hllPlan.contains("hll_sketch_agg"),
      "past the threshold the auto path must use the HLL sketch")
  }

  test("approx_percentile within 2% relative error of exact percentile") {
    val ev = Tables.events(spark, "/root/testdata/sf0.01")
    val r = ev.agg(
      percentile(col("value"), lit(0.5)).as("exact_p50"),
      percentile_approx(col("value"), lit(0.5), lit(10000)).as("approx_p50"))
      .collect()(0)
    val (exact, approx) = (r.getDouble(0), r.getDouble(1))
    assert(math.abs(approx - exact) <= math.abs(exact) * 0.02,
      s"approx=$approx exact=$exact")
  }

  test("q92 sketch variant: dense quantiles within 2.5%, tail within its rank bracket") {
    val dir = "/root/testdata/sf0.1"
    def collectBands(df: org.apache.spark.sql.DataFrame) =
      df.collect().map { r =>
        (r.getString(0), r.getDate(1).toString) ->
          (r.getDouble(3), r.getDouble(4), r.getDouble(5))
      }.toMap
    val exact = collectBands(
      graft.queries.StatsQueries.q92PercentileBands(spark, dir))
    // percentile_approx returns an actual group member under a RANK
    // guarantee (no interpolation) while the exact plan interpolates
    // between order statistics; in a ~600-row daily group the VALUE gap
    // between adjacent tail order statistics is unbounded, so the
    // principled p99 check is rank-based: the sketch value must land in
    // the exact [p98.5, p99.5] value bracket.
    val bracket = Tables.events(spark, dir)
      .groupBy(col("event_type"), to_date(col("ts")).as("day"))
      .agg(percentile(col("value"), lit(0.985)).as("lo"),
        percentile(col("value"), lit(0.995)).as("hi"))
      .collect().map { r =>
        (r.getString(0), r.getDate(1).toString) ->
          (r.getDouble(2), r.getDouble(3))
      }.toMap
    val approx = collectBands(
      graft.queries.StatsQueries.q92PercentileBandsSketch(spark, dir))
    assert(approx.keySet == exact.keySet)
    exact.foreach { case (k, (e50, e90, _)) =>
      val (a50, a90, a99) = approx(k)
      Seq((e50, a50, "p50"), (e90, a90, "p90")).foreach { case (e, a, w) =>
        assert(math.abs(a - e) <= math.abs(e) * 0.025 + 0.01,
          s"group=$k $w approx=$a exact=$e")
      }
      val (lo, hi) = bracket(k)
      assert(a99 >= lo - 0.01 && a99 <= hi + 0.01,
        s"group=$k p99 approx=$a99 outside exact rank bracket [$lo, $hi]")
    }
  }

  test("q196 HLL registers: brute-force replay equality + merge = union") {
    import graft.functions.HllAggregate
    val ev = Tables.events(spark, "/root/testdata/sf0.001")
      .select(col("event_type"), col("user_id"))
    // registers from the aggregate
    val got = ev.groupBy(col("event_type"))
      .agg(HllAggregate.hllRegisters(col("user_id"), 10).as("regs"))
      .collect().map(r => r.getString(0) -> r.getSeq[Byte](1).toArray).toMap
    // brute-force replay on the driver — the frozen register contract
    val rows = ev.collect().map(r => (r.getString(0), r.getLong(1)))
    val want = rows.groupBy(_._1).map { case (t, us) =>
      val regs = new Array[Byte](1024)
      us.map(_._2).distinct.foreach { u =>
        val h = HllAggregate.mix64(u)
        val j = (h >>> 54).toInt
        val rho = HllAggregate.rho(h, 10)
        if (rho > regs(j)) regs(j) = rho.toByte
      }
      t -> regs
    }
    assert(got.keySet == want.keySet)
    got.foreach { case (t, regs) =>
      assert(java.util.Arrays.equals(regs, want(t)), s"registers differ for $t")
    }
    // mergeability: elementwise max of per-type registers == registers
    // of the union of all types (duplicate users collapse under max)
    val union = ev.agg(HllAggregate.hllRegisters(col("user_id"), 10)).collect()(0)
      .getSeq[Byte](0).toArray
    val merged = got.values.reduce { (a, b) =>
      a.zip(b).map { case (x, y) => if (x > y) x else y }
    }
    assert(java.util.Arrays.equals(merged, union))
  }

  test("HLL rho edge cases: zero remainder caps at 64-p+1") {
    import graft.functions.HllAggregate
    assert(HllAggregate.rho(0L, 10) == 55)          // all low bits zero
    assert(HllAggregate.rho(1L << 53, 10) == 1)     // top remaining bit set
    assert(HllAggregate.rho(1L, 10) == 54)          // lowest bit only
    // register index uses the TOP p bits
    assert((HllAggregate.mix64(42L) >>> 54) < 1024)
  }

  test("Mix64Expression: codegen and interpreted paths agree with mix64") {
    import graft.functions.{HllAggregate, Mix64Expression}
    val df = spark.range(-5000L, 5000L, 7L).toDF("k")
    val seed = 0x243F6A8885A308D3L
    val got = df.select(col("k"), Mix64Expression.mix64(col("k"), seed).as("h"))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    got.foreach { case (k, h) =>
      assert(h == HllAggregate.mix64(k ^ seed), s"mismatch at k=$k")
    }
  }
}
