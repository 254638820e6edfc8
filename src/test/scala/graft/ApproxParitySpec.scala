package graft

import org.apache.spark.sql.Row

import graft.queries.CorpusQueries

/**
 * Drift bounds for the hashed (scale) paths of q238/q241 against their
 * exact duals on the test corpus. q238's hashed tally is EXACTLY equal
 * unless two distinct terms collide in 64 bits (none at this corpus
 * size — expected collisions n²/2⁶⁵); q241's hashed vocabulary feed
 * re-ranks recovered candidates by the exact (count, term) order, so
 * it can drift only where a count-tie plateau straddles rank K — the
 * bound below pins how much that moves the published Delta.
 */
class ApproxParitySpec extends SparkTestBase {

  private val dir = "/root/testdata/sf0.001"

  /** kNN size-switch thresholds that force each path on any corpus. */
  private def annAbove(ann: Boolean): Long = if (ann) -1L else Long.MaxValue

  test("q238 hashed tally equals the exact path bit-for-bit") {
    val exact = CorpusQueries.q238Body(spark, dir, hashed = false).collect().toSeq
    val hashed = CorpusQueries.q238Body(spark, dir, hashed = true).collect().toSeq
    assert(hashed == exact)
  }

  test("q251/q252 ANN off-ramp stays within the recall drift bound") {
    import graft.queries.EmbedAuditQueries
    def noise(ann: Boolean) =
      EmbedAuditQueries.q251LabelNoiseAuto(spark, dir, annAbove(ann)).collect()
        .map(r => r.getInt(0) -> (r.getLong(2), r.getLong(3))).toMap
    val exact = noise(false)
    val ann = noise(true)
    assert(ann.keySet == exact.keySet)
    exact.foreach { case (label, (ppm, suspects)) =>
      val (appm, asus) = ann(label)
      // IVF nprobe=8/64 recall perturbs which neighbors are inspected,
      // not the label structure: mean disagreement moves ≤ 15 pp and
      // the suspect tally stays in the same ballpark
      assert(math.abs(appm - ppm) <= 150000L,
        s"label $label exact=$ppm ann=$appm")
      assert(math.abs(asus - suspects) <= math.max(3L, suspects),
        s"label $label suspects exact=$suspects ann=$asus")
    }
    def hub(ann: Boolean) =
      EmbedAuditQueries.q252HubnessAuto(spark, dir, annAbove(ann)).collect()
        .map(r => r.getInt(0) -> r.getLong(1)).toMap
    assert(hub(true).keySet == hub(false).keySet) // same label universe
  }

  test("annNlist derives ~sqrt(N) with the 64 floor and 1e6 cap") {
    import graft.queries.EmbedAuditQueries.annNlist
    assert(annNlist(0L) == 64)
    assert(annNlist(500L) == 64)
    assert(annNlist(4096L) == 64)      // the floor boundary: ceil(sqrt) = 64
    assert(annNlist(4097L) == 65)      // first corpus past the floor
    assert(annNlist(1000000L) == 1000)
    assert(annNlist(10000000000L) == 100000)
    assert(annNlist(Long.MaxValue) == 1000000) // broadcast-bounding cap
  }

  test("q251 ANN drift bound holds at a DERIVED (past-the-floor) nlist") {
    // a synthetic corpus big enough that annNlist(n) > 64, so the drift
    // bound is pinned at a genuinely derived list count, not the floor
    import spark.implicits._
    import graft.queries.EmbedAuditQueries
    val n = 6000 // annNlist = 78
    val dim = 64
    val rnd = new scala.util.Random(42)
    // 4 well-separated label clusters + noise: kNN labels mostly agree
    val centers = Array.fill(4, dim)(rnd.nextGaussian())
    val rows = (0 until n).map { i =>
      val label = i % 4
      val v = Array.tabulate(dim)(d =>
        (centers(label)(d) + 0.3 * rnd.nextGaussian()).toFloat)
      (i.toLong, label, v.toSeq)
    }
    val tmp = java.nio.file.Files.createTempDirectory("graft-nlist").toString
    rows.toDF("vec_id", "label", "embedding")
      .write.mode("overwrite").parquet(s"$tmp/embeddings.parquet")
    def noise(ann: Boolean) =
      EmbedAuditQueries.q251LabelNoiseAuto(spark, tmp, annAbove(ann)).collect()
        .map(r => r.getInt(0) -> (r.getLong(2), r.getLong(3))).toMap
    val exact = noise(false)
    val ann = noise(true)
    assert(ann.keySet == exact.keySet)
    exact.foreach { case (label, (ppm, suspects)) =>
      val (appm, asus) = ann(label)
      assert(math.abs(appm - ppm) <= 150000L,
        s"label $label exact=$ppm ann=$appm (derived nlist)")
      assert(math.abs(asus - suspects) <= math.max(3L, suspects),
        s"label $label suspects exact=$suspects ann=$asus (derived nlist)")
    }
  }

  test("q241 hashed vocabulary feed stays within the tie-plateau drift bound") {
    def byPair(rows: Seq[Row]): Map[(String, String), Long] =
      rows.map(r => ((r.getString(0), r.getString(1)), r.getLong(3))).toMap
    val exact = byPair(
      CorpusQueries.q241Body(spark, dir, hashedFeed = false).collect().toSeq)
    val hashed = byPair(
      CorpusQueries.q241Body(spark, dir, hashedFeed = true).collect().toSeq)
    assert(hashed.keySet == exact.keySet) // same source pairs
    exact.foreach { case (pair, d) =>
      val h = hashed(pair)
      // plateau swaps touch only boundary terms: ≤ 5% relative drift
      assert(math.abs(h - d).toDouble <= 0.05 * math.max(1L, d),
        s"pair $pair exact=$d hashed=$h")
    }
  }
}
