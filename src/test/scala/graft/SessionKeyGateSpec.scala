package graft

import org.scalatest.funsuite.AnyFunSuite

/**
 * Gate: `src/main` reads only three `graft.*` session keys. Queries
 * pick their plans from the input size they observe, so a per-query
 * override or threshold key would add a configuration that neither
 * the tests nor the oracle cover. The kept keys are deployment
 * settings: the graph node-broadcast limit (a memory fit, like
 * `spark.sql.autoBroadcastJoinThreshold`) and the suffix-array index
 * persistence switch and database.
 */
class SessionKeyGateSpec extends AnyFunSuite {

  private val kept = Set("graft.graph.broadcastNodes", "graft.sa.persist", "graft.sa.db")

  private val keyUse = """conf\s*\.\s*\w+\(\s*"(graft\.[^"]+)"""".r
  private val legacyAlias = """graft\.pagerank[\s*]*\.broadcastNodes""".r

  /** Session keys outside `kept` that `text` touches through a conf
    * call, plus any mention of the deleted PageRank alias. */
  private[graft] def strayKeys(text: String): Seq[String] =
    keyUse.findAllMatchIn(text).map(_.group(1)).filterNot(kept).toSeq ++
      legacyAlias.findAllIn(text)

  test("source gate: src/main reads only the three kept graft.* session keys") {
    import scala.jdk.CollectionConverters._
    val root = java.nio.file.Paths.get("src/main/scala")
    assert(java.nio.file.Files.isDirectory(root), s"run from repo root: $root")
    val walk = java.nio.file.Files.walk(root)
    val files = try walk.iterator().asScala.filter(_.toString.endsWith(".scala")).toSeq
    finally walk.close()
    def read(p: java.nio.file.Path) = new String(java.nio.file.Files.readAllBytes(p), "UTF-8")
    val offenders = files.flatMap(p => strayKeys(read(p)).map(k => s"$p -> $k"))
    assert(offenders.isEmpty, s"graft.* session keys back in src/main:\n  ${offenders.mkString("\n  ")}")
    val used = files.flatMap(p => keyUse.findAllMatchIn(read(p)).map(_.group(1))).toSet
    assert(used == kept, s"kept keys no longer read: ${kept -- used}")
  }

  test("the gate's matcher catches a per-query key and the legacy alias") {
    val bad = Seq(
      """val t = spark.conf.getOption("graft.q147.autoApproxShingles")""",
      """if (spark.conf.get("graft.q92.approx", "false").toBoolean) sketch""",
      """spark.conf.getOption( "graft.coreset.batch" ).map(_.toInt)""",
      """// the older `graft.pagerank.broadcastNodes` name is honored""",
      """   * a node set above `graft.pagerank
        |   * .broadcastNodes` switches""".stripMargin)
    bad.foreach(b => assert(strayKeys(b).size == 1, s"missed: $b"))
    val good = Seq(
      """spark.conf.getOption("graft.graph.broadcastNodes")""",
      """spark.conf.get("graft.sa.db", "graft_sa_index")""",
      """spark.conf.set("graft.sa.persist", "false")""",
      """s"graft.functions.SimhashExpression.compute($c)"""",
      """spark.read.format("graft.sources.v2.ProtocolDataSource")""")
    good.foreach(g => assert(strayKeys(g).isEmpty, s"false alarm: $g"))
  }
}
