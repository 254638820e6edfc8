package graft

/**
 * Bounds q237's HLL off-ramp against the exact plan (the same contract
 * SketchStatsSpec pins for q147): totals identical (they ride the same
 * rollup) and distinct estimates within the lgK=14 sketch's error
 * budget.
 */
class NgramSketchSpec extends SparkTestBase {

  private def run(approx: Boolean) = {
    import graft.queries.PretrainQueries.{q237NgramDiversityExact, q237NgramDiversityHll}
    (if (approx) q237NgramDiversityHll(spark, sf())
     else q237NgramDiversityExact(spark, sf()))
      .collect()
      .map(r => ((r.getString(0), r.getInt(1)), (r.getLong(2), r.getLong(3))))
      .toMap
  }

  test("hll path matches the exact path within sketch error; totals exact") {
    val exact = run(approx = false)
    val hll = run(approx = true)
    assert(exact.keySet == hll.keySet)
    exact.foreach { case (k, (dExact, tExact)) =>
      val (dHll, tHll) = hll(k)
      assert(tHll == tExact, s"$k totals must be exact")
      val err = math.abs(dHll - dExact).toDouble / dExact
      assert(err < 0.02, s"$k distinct drift $err (exact=$dExact hll=$dHll)")
    }
  }
}
