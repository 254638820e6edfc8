package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/**
 * k-center greedy coreset selection (Gonzalez 1985 2-approximation;
 * Sener & Savarese 2018 applied it to training-data subset selection):
 * starting from a seed point, repeatedly add the point FARTHEST from
 * the already-chosen set — the classic "maximally diverse subset" rule
 * used to pick representative training examples / dedup epicenters.
 *
 * Distributed shape, BATCHED (the BPE lesson applied to the other
 * driver-loop learner): instead of one collected argmax row per center
 * (k centers = k sequential Spark jobs), each round fetches the top
 * (B+1) candidates by current min-distance WITH their vectors (a
 * bounded, dimension-sized collect) and simulates the sequential picks
 * on the driver. Soundness: a point outside the fetched set has
 * min-distance ≤ the (B+1)-th fetched value, and distances only SHRINK
 * as centers are added — so every simulated pick whose updated
 * min-distance stays STRICTLY above that bound is exactly the pick the
 * one-at-a-time algorithm would make (ties at the bound stop the
 * batch: an unfetched point could win them on the id tiebreak). The
 * whole round's picks then apply as ONE distributed distance update.
 * Rounds ≈ k/B on spread-out data; byte-identical to the sequential
 * trajectory (CoresetSpec pins parity; q138's replay oracle stays
 * green).
 *
 * Determinism: argmax ties break on the smallest id; distances are
 * exact float64 sums of float32 products (each product exact), and the
 * driver-side simulation uses the SAME left-to-right fold as the
 * distributed column, so the selected sequence is identical either way.
 */
object Coreset {

  /** Squared L2 distance between a vector column and a literal center
    * (left-to-right fold, matching [[dist2Local]]). */
  private def dist2(vec: Column, center: Array[Float]): Column = {
    val c = array(center.map(x => lit(x.toDouble)): _*)
    aggregate(
      zip_with(vec, c, (x, y) => {
        val d = x.cast(DoubleType) - y; d * d
      }),
      lit(0.0), (acc, x) => acc + x)
  }

  /** Driver-side twin of [[dist2]]: same order, same arithmetic. */
  private def dist2Local(a: Array[Float], b: Array[Float]): Double = {
    var s = 0.0
    var i = 0
    val n = math.min(a.length, b.length)
    while (i < n) {
      val d = a(i).toDouble - b(i).toDouble
      s += d * d
      i += 1
    }
    s
  }

  /** One round's bounded fetch over the (id, v, mind) state — a
    * TakeOrdered (per-partition heaps), ZERO shuffle exchanges.
    * Package-visible so the loop-iteration plan gate
    * (ExchangeBudgetSpec) can pin that budget. */
  private[graft] def roundFetchPlan(state: DataFrame, batchSize: Int): DataFrame =
    state.orderBy(col("mind").desc, col("id"))
      .limit(batchSize + 1)
      .select(col("id"), col("v"), col("mind"))

  /**
   * Select `k` centers. Returns (round, center_id, sel_dist2) — the
   * squared distance to the chosen set at selection time (round 1 =
   * the seed, distance 0). max(sel_dist2) over the result is the
   * standard k-center coverage-radius² certificate. Each round
   * fetches up to 64 candidates.
   */
  def kCenterGreedy(df: DataFrame, idCol: String, vecCol: String,
      k: Int, seedId: Long): DataFrame =
    kCenterGreedyWithRounds(df, idCol, vecCol, k, seedId)._1

  private val Batch = 64

  /** kCenterGreedy plus the distributed round count (rounds << k is
    * the point of the batching). */
  def kCenterGreedyWithRounds(df: DataFrame, idCol: String, vecCol: String,
      k: Int, seedId: Long): (DataFrame, Int) =
    kCenterGreedyWithRounds(df, idCol, vecCol, k, seedId, Batch)

  /** `batchSize` caps the per-round candidate fetch (1 = the
    * sequential one-pick-per-job algorithm, which tests compare
    * against). */
  private[graft] def kCenterGreedyWithRounds(df: DataFrame, idCol: String,
      vecCol: String, k: Int, seedId: Long, batchSize: Int): (DataFrame, Int) = {
    val spark = df.sparkSession
    import spark.implicits._

    val base = df.select(col(idCol).cast(LongType).as("id"), col(vecCol).as("v"))
      .localCheckpoint()
    def vecOf(id: Long): Array[Float] =
      base.filter(col("id") === id).select(col("v"))
        .as[Seq[Float]].head().toArray

    val picked = scala.collection.mutable.ArrayBuffer((1, seedId, 0.0))
    var state = base.filter(col("id") =!= seedId)
      .withColumn("mind", dist2(col("v"), vecOf(seedId)))
      .localCheckpoint()
    var exhausted = false
    var rounds = 0
    while (picked.size < k && !exhausted) {
      rounds += 1
      // bounded fetch: top (B+1) by (mind desc, id asc), vectors included
      val fetched = roundFetchPlan(state, batchSize)
        .as[(Long, Seq[Float], Double)].collect()
      if (fetched.isEmpty) exhausted = true
      else {
        // everything outside the fetch is bounded by the LAST fetched
        // mind (distances only shrink, so the bound holds all round)
        val bound =
          if (fetched.length == batchSize + 1) fetched.last._3
          else Double.NegativeInfinity
        val cand = scala.collection.mutable.ArrayBuffer(
          fetched.map { case (id, v, m) => (id, v.toArray, m) }: _*)
        val roundPicks = scala.collection.mutable.ArrayBuffer.empty[(Long, Array[Float], Double)]
        var go = true
        while (go && picked.size + roundPicks.size < k && cand.nonEmpty) {
          // sequential argmax within the simulated batch
          var bi = 0
          var i = 1
          while (i < cand.length) {
            val better = cand(i)._3 > cand(bi)._3 ||
              (cand(i)._3 == cand(bi)._3 && cand(i)._1 < cand(bi)._1)
            if (better) bi = i
            i += 1
          }
          val (cid, cv, cm) = cand(bi)
          if (cm > bound) {
            roundPicks += ((cid, cv, cm))
            cand.remove(bi)
            // shrink the simulated minds exactly as the cluster would
            var j = 0
            while (j < cand.length) {
              val d = dist2Local(cand(j)._2, cv)
              if (d < cand(j)._3) cand(j) = (cand(j)._1, cand(j)._2, d)
              j += 1
            }
          } else go = false // an unfetched point could tie/win: next round
        }
        if (roundPicks.isEmpty) {
          // bound blocked even the first pick — can only happen with a
          // degenerate batch size; fall back to accepting the argmax
          // (it IS the global argmax: nothing outside exceeds bound ≤ it)
          val (cid, cv, cm) = cand.maxBy { case (id, _, m) => (m, -id) }
          roundPicks += ((cid, cv, cm))
        }
        roundPicks.foreach { case (cid, _, d) =>
          picked += ((picked.size + 1, cid, d))
        }
        // ONE distributed update for the whole round
        val pickedIds: Seq[Any] = roundPicks.map(_._1).toSeq
        val newMind = roundPicks.foldLeft(col("mind")) { case (acc, (_, cv, _)) =>
          least(acc, dist2(col("v"), cv))
        }
        state = state.filter(!col("id").isin(pickedIds: _*))
          .withColumn("mind", newMind)
          .localCheckpoint()
      }
    }
    (picked.toSeq.toDF("round", "center_id", "sel_dist2")
      .select(col("round"), col("center_id"), round(col("sel_dist2"), 4).as("sel_dist2")),
      rounds)
  }
}
