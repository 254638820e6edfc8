package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.cache.{CacheTables, SparkCache}
import graft.datasets.TableStatistics
import graft.operators.Records
import graft.protocol._
import graft.sources.FrameSource

/** Whole-engine lifecycle in one flow: initial sync → incremental merge
  * → state checkpoint → maintenance (compaction) → statistics. The
  * parts are unit-tested elsewhere; this proves they compose. */
class LifecycleSpec extends SparkTestBase {

  import spark.implicits._

  test("sync → incremental merge → state → compaction → stats compose") {
    val cache = SparkCache.fresh(spark, "graft_test_lifecycle")
    val catalog = ConfiguredCatalog(Seq(
      ConfiguredStream("users", new StructType(), primaryKeys = Seq("id"),
        cursorField = Some("updated_at"))))

    // sync 1: initial load
    val batch1 = Seq(
      (1L, "alice", "2024-01-01"), (2L, "bob", "2024-01-01"),
      (3L, "carol", "2024-01-02")).toDF("id", "name", "updated_at")
    new FrameSource("crm", catalog, Map("users" -> ((_: org.apache.spark.sql.SparkSession) => batch1))).read(cache, spark)
    cache.writeState("crm", "users", """{"cursor":"2024-01-02"}""")
    assert(cache.table("users").count() == 3)

    // sync 2: cursor-filtered increment (2 updated + 1 new), merge last-wins
    val feed = Seq(
      (2L, "bob-v2", "2024-01-03"), (3L, "carol-v2", "2024-01-03"),
      (4L, "dave", "2024-01-04"),
      (1L, "alice-stale", "2024-01-01")).toDF("id", "name", "updated_at")
    val cursor = cache.latestState("crm", "users").get.split("\"")(3)
    val batch2 = feed.filter(col("updated_at") > cursor)
    new FrameSource("crm", catalog, Map("users" -> ((_: org.apache.spark.sql.SparkSession) => batch2))).read(cache, spark)
    cache.writeState("crm", "users", """{"cursor":"2024-01-04"}""")

    val after = cache.table("users")
      .select("id", "name").as[(Long, String)].collect().toMap
    assert(after == Map(1L -> "alice", 2L -> "bob-v2", 3L -> "carol-v2", 4L -> "dave"))

    // maintenance: compact the accreted files; data must be unchanged
    val files = cache.compactTable("users")
    assert(files >= 1)
    val recheck = cache.table("users")
      .select("id", "name").as[(Long, String)].collect().toMap
    assert(recheck == after)

    // statistics over the final table
    val stats = TableStatistics.collect(
      Records.dropInternalColumns(cache.table("users")))
    assert(stats.rowCount == 4)
    assert(stats.columns.find(_.name == "id").get.nullCount == 0)
    assert(cache.latestState("crm", "users").get.contains("2024-01-04"))
    cache.dropAll()
  }

  test("CLI sketch surface: update → persist → restore → shard merge") {
    val cache = SparkCache.fresh(spark, "graft_test_sketch_cli")
    // two "shards" of ids with overlap: 0..599 and 400..999
    CacheTables.save(spark.range(0, 600).toDF("uid")
      .write.mode("overwrite"), "`graft_test_sketch_cli`.`shard_a`")
    CacheTables.save(spark.range(400, 1000).toDF("uid")
      .write.mode("overwrite"), "`graft_test_sketch_cli`.`shard_b`")
    def sketch(kv: (String, String)*): String =
      graft.tools.Cli.runSketch(spark, cache, kv.toMap)

    // per-shard HLL update, persisted under distinct names
    val a = sketch("kind" -> "distinct", "name" -> "sk_a", "p" -> "12",
      "op" -> "update", "table" -> "shard_a", "column" -> "uid")
    val b = sketch("kind" -> "distinct", "name" -> "sk_b", "p" -> "12",
      "op" -> "update", "table" -> "shard_b", "column" -> "uid")
    assert(a.contains("sk_a") && b.contains("sk_b"))

    // a NEW run (restore path) merges the shards; the union estimate
    // must equal the single-sketch estimate over the union of keys
    val merged = sketch("kind" -> "distinct", "name" -> "sk_union",
      "p" -> "12", "op" -> "merge", "others" -> "sk_a,sk_b")
    val direct = {
      val sk = new graft.streaming.StreamingDistinct(12)
      sk.processBatch(spark.range(0, 1000).toDF("key"))
      sk.estimate
    }
    assert(merged.contains(s"estimate=$direct"),
      s"merged shard estimate must equal direct union estimate: $merged vs $direct")
    // show restores the persisted union without mutating it
    assert(sketch("kind" -> "distinct", "name" -> "sk_union", "p" -> "12",
      "op" -> "show") == merged)

    // bloom: update then probe members and non-members through the CLI line
    sketch("kind" -> "bloom", "name" -> "sk_bl", "p" -> "16", "k" -> "3",
      "op" -> "update", "table" -> "shard_a", "column" -> "uid")
    val probed = sketch("kind" -> "bloom", "name" -> "sk_bl", "p" -> "16",
      "k" -> "3", "op" -> "show", "probe" -> "5,599,123456789")
    assert(probed.contains("5=true") && probed.contains("599=true"),
      probed)

    // a non-numeric probe value goes through the CLI's fail() path
    // (usage-style IllegalArgumentException), never a raw
    // NumberFormatException
    val badProbe = intercept[IllegalArgumentException] {
      sketch("kind" -> "bloom", "name" -> "sk_bl", "p" -> "16", "k" -> "3",
        "op" -> "show", "probe" -> "5, not-a-number ,9")
    }
    assert(!badProbe.isInstanceOf[NumberFormatException])
    assert(badProbe.getMessage.contains("comma-separated integers"),
      badProbe.getMessage)
    assert(badProbe.getMessage.contains("'not-a-number'"), badProbe.getMessage)

    // reservoir: shard updates merge into a deterministic bottom-k union
    sketch("kind" -> "reservoir", "name" -> "sk_ra", "size" -> "64",
      "op" -> "update", "table" -> "shard_a", "column" -> "uid")
    sketch("kind" -> "reservoir", "name" -> "sk_rb", "size" -> "64",
      "op" -> "update", "table" -> "shard_b", "column" -> "uid")
    val r = sketch("kind" -> "reservoir", "name" -> "sk_ru", "size" -> "64",
      "op" -> "merge", "others" -> "sk_ra,sk_rb")
    assert(r.contains("size=64"), r)
    cache.dropAll()
  }

  test("CLI sketch surface: trending / heavy / drift end-to-end") {
    val cache = SparkCache.fresh(spark, "graft_test_sketch_cli2")
    def sketch(kv: (String, String)*): String =
      graft.tools.Cli.runSketch(spark, cache, kv.toMap)

    // --- trending: two shard updates, then a merged union ------------
    CacheTables.save(Seq("spark rocks", "spark scales", "ducks quack").toDF("txt")
      .write.mode("overwrite"), "`graft_test_sketch_cli2`.`texts_a`")
    CacheTables.save(Seq("spark wins", "geese honk").toDF("txt")
      .write.mode("overwrite"), "`graft_test_sketch_cli2`.`texts_b`")
    val ta = sketch("kind" -> "trending", "name" -> "tr_a", "k" -> "5",
      "op" -> "update", "table" -> "texts_a", "column" -> "txt")
    assert(ta.contains("spark:2"), ta) // 2 mentions in shard a
    sketch("kind" -> "trending", "name" -> "tr_b", "k" -> "5",
      "op" -> "update", "table" -> "texts_b", "column" -> "txt")
    val tm = sketch("kind" -> "trending", "name" -> "tr_u", "k" -> "5",
      "op" -> "merge", "others" -> "tr_a,tr_b")
    assert(tm.contains("spark:3"), tm) // associative shard sum
    // a NEW restore (show) serves the persisted union unchanged
    assert(sketch("kind" -> "trending", "name" -> "tr_u", "k" -> "5",
      "op" -> "show") == tm)
    // a second update halves the union's scores before adding
    val t2 = sketch("kind" -> "trending", "name" -> "tr_u", "k" -> "5",
      "op" -> "update", "table" -> "texts_b", "column" -> "txt")
    assert(t2.contains("spark:2"), t2) // 3 div 2 + 1 = 2

    // --- heavy: skewed tokens, shard merge, threshold report ---------
    val toks = (Seq.fill(60)("hot") ++ Seq.fill(25)("warm") ++
      (1 to 15).map(i => s"cold$i")).zipWithIndex
    CacheTables.save(toks.take(50).map(_._1).toDF("tok")
      .write.mode("overwrite"), "`graft_test_sketch_cli2`.`toks_a`")
    CacheTables.save(toks.drop(50).map(_._1).toDF("tok")
      .write.mode("overwrite"), "`graft_test_sketch_cli2`.`toks_b`")
    sketch("kind" -> "heavy", "name" -> "hh_a", "k" -> "8",
      "op" -> "update", "table" -> "toks_a", "column" -> "tok")
    sketch("kind" -> "heavy", "name" -> "hh_b", "k" -> "8",
      "op" -> "update", "table" -> "toks_b", "column" -> "tok")
    val hm = sketch("kind" -> "heavy", "name" -> "hh_u", "k" -> "8",
      "op" -> "merge", "others" -> "hh_a,hh_b", "denom" -> "4")
    // MG guarantee: hot (60/100 > 100/4) must be reported after merge
    assert(hm.contains("n=100") && hm.contains("hot:"), hm)
    assert(sketch("kind" -> "heavy", "name" -> "hh_u", "k" -> "8",
      "op" -> "show", "denom" -> "4") == hm)

    // --- drift: freeze reference, then PSI against a shifted batch ---
    CacheTables.save((1 to 100).map(i => ("m1", i.toDouble)).toDF("metric", "v")
      .write.mode("overwrite"), "`graft_test_sketch_cli2`.`vals_ref`")
    CacheTables.save((1 to 100).map(i => ("m1", i.toDouble + 80)).toDF("metric", "v")
      .write.mode("overwrite"), "`graft_test_sketch_cli2`.`vals_cur`")
    val d1 = sketch("kind" -> "drift", "name" -> "dr_1", "bins" -> "10",
      "key-column" -> "metric", "op" -> "update",
      "table" -> "vals_ref", "column" -> "v")
    assert(d1.contains("reference frozen keys=1"), d1)
    // the restore path picks the frozen reference up from the table
    val d2 = sketch("kind" -> "drift", "name" -> "dr_1", "bins" -> "10",
      "key-column" -> "metric", "op" -> "update",
      "table" -> "vals_cur", "column" -> "v")
    assert(d2.contains("top_psi{m1:"), d2)
    val psi = d2.split("top_psi\\{m1:")(1).stripSuffix("}").toDouble
    assert(psi > 0.25, s"an 80% range shift must alert (psi=$psi)")
    // shard merge: a second monitor over a DISJOINT key unions in
    CacheTables.save((1 to 50).map(i => ("m2", i * 2.0)).toDF("metric", "v")
      .write.mode("overwrite"), "`graft_test_sketch_cli2`.`vals_m2`")
    sketch("kind" -> "drift", "name" -> "dr_2", "bins" -> "10",
      "key-column" -> "metric", "op" -> "update",
      "table" -> "vals_m2", "column" -> "v")
    val dm = sketch("kind" -> "drift", "name" -> "dr_u", "bins" -> "10",
      "key-column" -> "metric", "op" -> "merge", "others" -> "dr_1,dr_2")
    assert(dm.contains("keys=2"), dm)

    // --- quantile: shard updates, exact merged p50/p90/p99 -----------
    CacheTables.save((1 to 60).map(i => ("lat", i.toDouble)).toDF("metric", "v")
      .write.mode("overwrite"), "`graft_test_sketch_cli2`.`lat_a`")
    CacheTables.save((61 to 100).map(i => ("lat", i.toDouble)).toDF("metric", "v")
      .write.mode("overwrite"), "`graft_test_sketch_cli2`.`lat_b`")
    sketch("kind" -> "quantile", "name" -> "qt_a", "scale" -> "100",
      "key-column" -> "metric", "op" -> "update",
      "table" -> "lat_a", "column" -> "v")
    sketch("kind" -> "quantile", "name" -> "qt_b", "scale" -> "100",
      "key-column" -> "metric", "op" -> "update",
      "table" -> "lat_b", "column" -> "v")
    // merged shards = exact quantiles of the union 1..100
    val qm = sketch("kind" -> "quantile", "name" -> "qt_u", "scale" -> "100",
      "key-column" -> "metric", "op" -> "merge", "others" -> "qt_a,qt_b")
    assert(qm.contains("n=100") &&
      qm.contains("lat{p50=50.0,p90=90.0,p99=99.0}"), qm)
    // a NEW restore (show) serves the persisted union unchanged
    assert(sketch("kind" -> "quantile", "name" -> "qt_u", "scale" -> "100",
      "key-column" -> "metric", "op" -> "show") == qm)

    // --- embdrift: freeze, same-axis fold stays high-cosine ----------
    val rnd = new scala.util.Random(99)
    def emb(axis: Int, n: Int) = Seq.fill(n)(
      (0 until 8).map(i => ((if (i == axis) rnd.nextGaussian() * 4 else 0.0)
        + rnd.nextGaussian() * 0.2).toFloat))
    CacheTables.save(emb(2, 200).toDF("vec")
      .write.mode("overwrite"), "`graft_test_sketch_cli2`.`emb_a`")
    val e1 = sketch("kind" -> "embdrift", "name" -> "ed_1", "dim" -> "8",
      "op" -> "update", "table" -> "emb_a", "column" -> "vec")
    assert(e1.contains("cosine=1.0000"), e1) // first fold: cum == ref
    val e2 = sketch("kind" -> "embdrift", "name" -> "ed_1", "dim" -> "8",
      "op" -> "update", "table" -> "emb_a", "column" -> "vec")
    assert(e2.contains("n=400") && e2.contains("ref_n=200"), e2)
    assert(sketch("kind" -> "embdrift", "name" -> "ed_1", "dim" -> "8",
      "op" -> "show") == e2)
    cache.dropAll()
  }
}
