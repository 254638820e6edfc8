package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.queries.DedupAuditQueries

/**
 * Recall gate for q255's banded corpus-scale pair source
 * (`DedupAuditQueries.bandedEdges`): candidates from the τ≈0.3-tuned 9-band ×
 * 1-row MinHash layout, verified with the exact path's capped-τ
 * integer test, must be a SUBSET of the exact edge set (precision 1
 * by construction) and recover at least the S-curve floor of it
 * (per-edge hit probability 1−0.7⁹ ≈ 96% at J = 0.3, higher above).
 * The spectrum corpus plants truncated variants (the q184 device) so
 * edges actually populate the risky J ≈ 0.3–0.5 band instead of only
 * the easy near-1.0 duplicates.
 */
class BandedRecallSpec extends SparkTestBase {

  private def edgeSet(df: DataFrame): Set[(Long, Long)] =
    df.collect().map(r =>
      (r.getAs[Number](0).longValue, r.getAs[Number](1).longValue)).toSet

  /** Natural sf0.001 docs plus truncated variants sweeping J ~0.3→1. */
  private def spectrumDocs: DataFrame = {
    val base = graft.sources.Tables.documents(spark, "/root/testdata/sf0.001")
      .filter(col("doc_id") < 400)
      .select(col("doc_id").cast(LongType).as("doc_id"), col("text"))
    val words = split(col("text"), " ")
    val variant = base.select((col("doc_id") + 100000L).as("doc_id"),
      array_join(slice(words, lit(1),
        greatest(size(words) - (col("doc_id") % 15).cast(IntegerType),
          lit(4))), " ").as("text"))
    base.unionByName(variant)
  }

  test("banded edges are a subset of exact edges on the natural corpus") {
    val docs = graft.sources.Tables.documents(spark, "/root/testdata/sf0.001")
      .select(col("doc_id"), col("text"))
    val exact = edgeSet(DedupAuditQueries.exactEdges(docs))
    val banded = edgeSet(DedupAuditQueries.bandedEdges(docs))
    assert(exact.nonEmpty, "natural corpus produced no exact edges — " +
      "the recall ratio below would be vacuous")
    val falsePos = banded -- exact
    assert(falsePos.isEmpty,
      s"banded edges must verify with the exact τ test: ${falsePos.take(5)}")
    val recall = banded.size.toDouble / exact.size
    assert(recall >= 0.85,
      s"banded recall $recall (${banded.size}/${exact.size}) below the floor")
  }

  test("banded recall holds on the planted J≈0.3–1.0 spectrum") {
    val docs = spectrumDocs
    val exact = edgeSet(DedupAuditQueries.exactEdges(docs))
    val banded = edgeSet(DedupAuditQueries.bandedEdges(docs))
    assert(exact.size >= 50,
      s"spectrum corpus too sparse to measure recall: ${exact.size} edges")
    assert((banded -- exact).isEmpty, "banded ⊆ exact violated on spectrum")
    val recall = banded.size.toDouble / exact.size
    assert(recall >= 0.85,
      s"spectrum recall $recall (${banded.size}/${exact.size}) below the floor")
  }

  test("the banded source composes with q255's transitivity tail") {
    val dir = "/root/testdata/sf0.001"
    val exactRow = SparkEntry.queries("q255_dup_transitivity")(spark, dir)
      .collect()(0)
    val bandedRow = DedupAuditQueries.graphTransitivity(DedupAuditQueries
      .bandedEdges(graft.sources.Tables.documents(spark, dir))).collect()(0)
    // banded edges ⊆ exact edges ⇒ the banded edge count never exceeds
    // the exact one, and with ≥96% per-edge recall it stays close
    assert(bandedRow.getLong(1) <= exactRow.getLong(1),
      s"banded n_edges ${bandedRow.getLong(1)} > exact ${exactRow.getLong(1)}")
    assert(bandedRow.getLong(1) >= (exactRow.getLong(1) * 0.85).toLong,
      s"banded n_edges ${bandedRow.getLong(1)} lost >15% of " +
        s"exact ${exactRow.getLong(1)}")
  }

  test("the corpus probe auto-engages the banded source past the threshold") {
    val dir = "/root/testdata/sf0.001"
    def stats() = SparkEntry.queries("q255_dup_transitivity")(spark, dir)
      .collect()(0)
    // production threshold (10⁹ tokens): the test corpus stays on the
    // exact path
    val exactRow = stats()
    assert(exactRow == DedupAuditQueries.graphTransitivity(DedupAuditQueries
      .exactEdges(graft.sources.Tables.documents(spark, dir))).collect()(0))
    // lower the threshold below the corpus size: the banded source must
    // engage through the same probe
    val autoRow = DedupAuditQueries
      .q255DupGraphTransitivityAuto(spark, dir, bandedAbove = 1L).collect()(0)
    assert(autoRow.getLong(1) <= exactRow.getLong(1),
      s"auto-banded n_edges ${autoRow.getLong(1)} > exact ${exactRow.getLong(1)}")
    assert(autoRow.getLong(1) >= (exactRow.getLong(1) * 0.85).toLong,
      s"auto-banded n_edges ${autoRow.getLong(1)} lost >15% of " +
        s"exact ${exactRow.getLong(1)}")
  }
}
