package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.operators.{Records, WriteStrategies}

/** Driver-contract integrity + hot-key dedup. */
class ContractSpec extends SparkTestBase {

  import spark.implicits._

  // Round 5 closed the last rows-only queries: the driver-loop
  // learners (q135/q138/q143/q155) now carry trajectory-replay DuckDB
  // oracles (each iteration a CTE block; q155's Viterbi is a recursive
  // CTE) IN ADDITION to their sequential-reference specs, so EVERY
  // registered query is oracle-gated.
  private val rowsOnlyQueries = Set.empty[String]

  test("every oracle key has a query; oracle SQL is single-statement SELECT-like") {
    val qs = SparkEntry.queries.keySet
    val os = SparkEntry.oracleSql.keySet
    assert(os.subsetOf(qs), s"oracles without queries: ${os -- qs}")
    assert((qs -- os) == rowsOnlyQueries,
      s"queries without oracles (weaker rows-only check): ${qs -- os -- rowsOnlyQueries}")
    SparkEntry.oracleSql.values.foreach { sql =>
      val first = sql.trim.split("\\s+").head.toUpperCase
      assert(Set("SELECT", "WITH").contains(first), s"unexpected oracle start: $first")
      // multi-statement check must ignore ';' INSIDE string literals
      // (q175's oracle legitimately carries HTML entities like '&#101;')
      val withoutLiterals = sql.replaceAll("'([^']|'')*'", "''")
      assert(!withoutLiterals.trim.stripSuffix(";").contains(";"),
        "multi-statement oracle")
    }
  }

  test("hot-key dedupLatest keeps each key's max raw id at one extracted_at") {
    // hot key 1 with 500 versions; a few cold keys
    val rows = (1 to 500).map(i => (1L, s"v$i", i.toDouble)) ++
      Seq((2L, "x", 1.0), (3L, "y", 2.0))
    // materialize once: uuid7 raw ids are nondeterministic per evaluation,
    // and the dedup and the expected winners must see the SAME ids
    val df = Records.addMetadata(rows.toDF("id", "name", "score"),
      Some((lit("2020-01-01 00:00:00").cast(TimestampType))))
      .repartition(4).localCheckpoint()
    val all = df.select("id", "name", Records.RawIdColumn)
      .as[(Long, String, String)].collect()
    // every version shares extracted_at, so the winner is the max raw id
    val expected = all.groupBy(_._1).map { case (id, vs) => id -> vs.maxBy(_._3)._2 }
    val got = WriteStrategies.dedupLatest(df, Seq("id"))
      .select("id", "name").as[(Long, String)].collect()
    assert(got.length == 3)
    assert(got.toMap == expected)
  }
}
