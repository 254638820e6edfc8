package graft

import org.apache.spark.sql.functions._

import graft.operators.Coreset

/** Pins distributed k-center greedy to a sequential reference (same
  * farthest-point rule, same id tiebreak) and its diversity property. */
class CoresetSpec extends SparkTestBase {
  import spark.implicits._

  private def referenceKCenter(
      pts: Map[Long, Seq[Float]], k: Int, seed: Long): Seq[(Int, Long, Double)] = {
    def d2(a: Seq[Float], b: Seq[Float]): Double =
      a.zip(b).map { case (x, y) =>
        val d = x.toDouble - y.toDouble; d * d
      }.sum
    var mind = (pts - seed).map { case (id, v) => id -> d2(v, pts(seed)) }
    val out = scala.collection.mutable.ArrayBuffer((1, seed, 0.0))
    for (round <- 2 to math.min(k, pts.size)) {
      val (cid, dd) = mind.toSeq.minBy { case (id, d) => (-d, id) }
      out += ((round, cid, dd))
      mind = (mind - cid).map { case (id, d) =>
        id -> math.min(d, d2(pts(id), pts(cid)))
      }
    }
    out.toSeq.map { case (r, id, d) =>
      (r, id, BigDecimal(d).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble)
    }
  }

  test("matches the sequential reference on sf0.001 embeddings") {
    val emb = graft.sources.Tables.embeddings(spark, sf())
    val got = Coreset.kCenterGreedy(emb, "vec_id", "embedding", k = 8, seedId = 0L)
      .as[(Int, Long, Double)].collect().sortBy(_._1).toSeq
    val pts = emb.select(col("vec_id"), col("embedding"))
      .as[(Long, Seq[Float])].collect().toMap
    assert(got == referenceKCenter(pts, 8, 0L))
  }

  test("selection distances are non-increasing (greedy farthest-point invariant)") {
    val emb = graft.sources.Tables.embeddings(spark, sf())
    val ds = Coreset.kCenterGreedy(emb, "vec_id", "embedding", k = 6, seedId = 0L)
      .orderBy(col("round")).as[(Int, Long, Double)].collect().drop(1).map(_._3)
    assert(ds.zip(ds.tail).forall { case (a, b) => a >= b },
      s"distances must not increase: ${ds.toSeq}")
  }

  test("k >= n selects every point exactly once") {
    val tiny = Seq(
      (1L, Seq(0f, 0f)), (2L, Seq(1f, 0f)), (3L, Seq(0f, 1f)))
      .toDF("vec_id", "embedding")
    val got = Coreset.kCenterGreedy(tiny, "vec_id", "embedding", k = 10, seedId = 1L)
    assert(got.count() == 3)
    assert(got.select("center_id").as[Long].collect().sorted.toSeq == Seq(1L, 2L, 3L))
  }

  test("batched rounds equal the sequential trajectory at k=40 in far fewer rounds") {
    val emb = graft.sources.Tables.embeddings(spark, sf())
    val (gotDf, rounds) = Coreset.kCenterGreedyWithRounds(
      emb, "vec_id", "embedding", k = 40, seedId = 0L)
    val got = gotDf.as[(Int, Long, Double)].collect().sortBy(_._1).toSeq
    val pts = emb.select(col("vec_id"), col("embedding"))
      .as[(Long, Seq[Float])].collect().toMap
    assert(got == referenceKCenter(pts, 40, 0L))
    assert(rounds * 3 < 40, s"batching ineffective: $rounds rounds for 40 centers")
  }

  test("batch=1 degrades to the sequential algorithm with identical output") {
    val emb = graft.sources.Tables.embeddings(spark, sf())
    val got = Coreset.kCenterGreedyWithRounds(emb, "vec_id", "embedding",
        k = 6, seedId = 0L, batchSize = 1)._1
      .as[(Int, Long, Double)].collect().sortBy(_._1).toSeq
    val pts = emb.select(col("vec_id"), col("embedding"))
      .as[(Long, Seq[Float])].collect().toMap
    assert(got == referenceKCenter(pts, 6, 0L))
  }
}
