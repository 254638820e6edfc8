package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper

/** `Verify.dump` with a query filter writes only the selected parquet
  * dumps AND only their oracle SQL, so tools/check_oracle.py checks
  * exactly what was dumped. */
class VerifySpec extends SparkTestBase {

  test("a two-query filter writes exactly those parquet dirs and JSON keys") {
    val out = Files.createTempDirectory("graft-verify").toString
    val names = Set("q1_pricing_summary", "q2_filter_pushdown")
    Verify.dump(spark, sf(), out, Some(names))

    val written = new java.io.File(out).listFiles().map(_.getName).toSet
    assert(written == names + "oracle_sql.json")
    names.foreach(n => assert(spark.read.parquet(s"$out/$n").count() > 0, n))

    val json = new ObjectMapper().readTree(Files.readString(Paths.get(out, "oracle_sql.json")))
    assert(json.fieldNames().asScala.toSet == names)
    // multi-line SQL round-trips through the escaper unchanged
    names.foreach(n => assert(json.get(n).asText == SparkEntry.oracleSql(n), n))
  }

  test("oracle JSON escapes quotes, backslashes and every control character") {
    val sql = "SELECT 'a\"b' AS x,\t'c\\\\d'\r\n -- \u0001\u001f end"
    val json = new ObjectMapper().readTree(Verify.oracleJson(Seq("q" -> sql)))
    assert(json.get("q").asText == sql)
  }
}
