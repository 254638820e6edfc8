package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.functions.OverlapFunctions.sortedOverlap
import graft.sources.Tables

/**
 * Dedup-policy audits (round 14): the two questions a pipeline answers
 * BEFORE committing to a near-dup pass — is the near-dup relation
 * clique-like enough for cluster-collapse semantics (q255), and how
 * much NON-benchmark data would benchmark decontamination take with it
 * (q256)? Complements q233 (threshold impact curve) and q134 (the
 * decontamination pass itself).
 *
 * Both build on the suite's exact posting-join machinery: exact-class
 * collapse first (the duplicate-blowup guard), df ≤ 50 capped postings
 * (the boilerplate guard), ONE pair aggregation, integer permille
 * similarity — the q232/q233 calibration-anchor contract, with q31's
 * banded candidates as the declared corpus-scale composition.
 */
object DedupAuditQueries {

  /** Distinct 3-word shingles per exact-text class (id = min doc_id),
    * with the class's shingle-set size. */
  private def classShingles(docs: DataFrame): DataFrame =
    docs.groupBy(col("text")).agg(min(col("doc_id")).as("id"))
      .select(col("id"),
        array_distinct(graft.functions.TextHashFunctions
          .shingleMinhash(col("text"), 1, 3).getField("shingles")).as("sh"))
      .filter(size(col("sh")) > 0)
      .select(col("id"), col("sh"), size(col("sh")).cast(LongType).as("n"))

  /** df ≤ 50 capped (id, n, s) postings from a class-shingle frame. */
  private def cappedPosts(withSh: DataFrame): DataFrame = {
    val all = withSh.select(col("id"), col("n"), explode(col("sh")).as("s"))
    all.join(
      all.groupBy(col("s")).agg(count(lit(1)).as("df"))
        .filter(col("df") <= 50).select(col("s")),
      Seq("s"), "left_semi")
  }

  // ------------------------------------------------------------------
  // q255: near-dup graph transitivity audit — is the Jaccard ≥ 0.3
  // relation CLIQUE-LIKE? Cluster-collapse dedup (q61's connected
  // components + q112's keep-best) silently assumes near-duplication
  // is roughly transitive: if A~B and B~C, collapsing {A,B,C} to one
  // representative is only faithful when A~C mostly holds. This audit
  // measures it: global transitivity = 3·triangles / wedges over the
  // pair graph. High (→1) certifies cluster semantics; low means
  // chains of borderline pairs are getting merged and the dedup pass
  // is removing non-duplicates — lower τ impact curves (q233) can't
  // see this failure mode.
  //
  // Scale shape: exact-class collapse, df ≤ 50 capped postings, ONE
  // pair aggregation with an ALL-INTEGER τ test (inter·1000 ≥
  // (n_a+n_b−inter)·300 — no division, no rounding), then everything
  // is edge-domain-sized: degree tally, wedge sum in DECIMAL
  // (Σd(d−1)/2 overflows BIGINT on hub nodes at ~4e9 edges), oriented
  // 2-path join + closing semi-join for triangles (a<b<c orientation
  // counts each triangle exactly once).
  //
  // Corpus scale: the banded pair source AUTO-ENGAGES past a corpus
  // probe (a conf-gated scale path is a scale path that won't fire at
  // 100×): the q237/q238 `tokenCountEstimate` probe (column-pruned
  // n_chars scan) picks `bandedEdges` past 10⁹ tokens — far above
  // every test SF, so the oracle pins the exact path; far below any
  // production corpus. The banded
  // source swaps ONLY the pair source for MinHash-banded candidates +
  // the identical capped-τ verify (`bandedEdges` below). The default
  // 3-band×3-row layout is recall-unsafe at τ = 0.3 (per-pair hit
  // probability 1−(1−0.3³)³ ≈ 8% at the threshold — q184's S-curve),
  // so the banded source uses 9 bands × 1 row: 1−(1−s)⁹ ≥ 96% at
  // s = 0.3 and ≥ 99.98% at s = 0.6. Verification is the SAME integer
  // test, so banded edges are a SUBSET of the exact edge set
  // (precision 1 by construction); BandedRecallSpec pins the recall
  // floor.
  // ------------------------------------------------------------------
  private val BandedTokens = 1000000000L

  def q255DupGraphTransitivity(spark: SparkSession, dir: String): DataFrame =
    q255DupGraphTransitivityAuto(spark, dir)

  /** q255's size switch; the threshold is an argument so a test can
    * push a small corpus past it. */
  private[graft] def q255DupGraphTransitivityAuto(spark: SparkSession,
      dir: String, bandedAbove: Long = BandedTokens): DataFrame = {
    val docs = Tables.documents(spark, dir)
    graphTransitivity(
      if (CorpusQueries.tokenCountEstimate(spark, dir) > bandedAbove) bandedEdges(docs)
      else exactEdges(docs))
  }

  /** Exact τ = 0.3 near-dup edge set over capped postings — the
    * CORRECTNESS anchor (the oracle replays this path). The in-bucket
    * pair blowup is quadratic in per-shingle df, bounded by the ≤ 50
    * cap ([[graft.operators.PostingPairs]] — round 16: the bucket-
    * grouped engine replaced the posting self-join; the class frame is
    * consumed exactly once now, so the former localCheckpoint pass is
    * gone too). */
  private[graft] def exactEdges(docs: DataFrame): DataFrame =
    graft.operators.PostingPairs.cappedPairInter(classShingles(docs), 50)
      .filter(col("inter") * 1000 >=
        (col("n_a") + col("n_b") - col("inter")) * 300)
      .select(col("id_a").as("u"), col("id_b").as("v"))

  /** Banded corpus-scale pair source for q255:
    * q31's candidate machinery with a τ≈0.3-tuned layout — 9 bands of
    * 1 MinHash row each, so a true edge (capped Jaccard ≥ 0.3 implies
    * FULL-set Jaccard ≥ 0.3, which the signature estimates) is missed
    * with probability ≤ 0.7⁹ ≈ 4%. Candidates are verified with
    * EXACTLY the exact path's capped-intersection integer τ test, so
    * bandedEdges ⊆ exactEdges — the transitivity statistic drifts
    * only through the ≤4%-per-edge recall loss, never through false
    * edges. The only corpus-sized exchange is the band-key self-join
    * (each class contributes 9 keys); the verify is a per-candidate
    * sorted-set merge walk, never a posting re-join. */
  /** Distinct-shingle classes WITH their 9-component MinHash
    * signatures: (id, sh, n, sig) — shared by the banded q255 pair
    * source and q260's estimator calibration. `sh` is ascending and
    * distinct, the input `sortedOverlap` verifies by merge walk. */
  private def sigClasses(docs: DataFrame): DataFrame =
    docs.groupBy(col("text")).agg(min(col("doc_id")).as("id"))
      .select(col("id"), graft.functions.TextHashFunctions
        .shingleMinhash(col("text"), 9, 3).as("sm"))
      .select(col("id"), sort_array(array_distinct(col("sm.shingles"))).as("sh"),
        col("sm.sig").as("sig"))
      .filter(size(col("sh")) > 0)
      .select(col("id"), col("sh"), size(col("sh")).cast(LongType).as("n"),
        col("sig"))

  /** Distinct candidate pairs (u < v) from the τ≈0.3-tuned 9-band ×
    * 1-row layout over `sigClasses` output. */
  private def bandCandidates(cls: DataFrame): DataFrame = {
    import graft.operators.Dedup
    val bandKeys = cls.select(col("id"),
      explode(array((0 until 9).map(b =>
        Dedup.bandKey(col("sig"), b, 1)): _*)).as("bk"))
    bandKeys.alias("x")
      .join(bandKeys.alias("y"),
        col("x.bk") === col("y.bk") && col("x.id") < col("y.id"))
      .select(col("x.id").as("u"), col("y.id").as("v"))
      .dropDuplicates("u", "v")
  }

  private[graft] def bandedEdges(docs: DataFrame): DataFrame = {
    val cls = sigClasses(docs)
      .localCheckpoint() // reused: band explode AND the capped verify side
    val capSets = cappedPosts(cls.select(col("id"), col("sh"), col("n")))
      // ascending for the merge-walk verify; distinct already (each
      // class posts each of its distinct shingles once)
      .groupBy(col("id"), col("n")).agg(sort_array(collect_list(col("s"))).as("cs"))
    bandCandidates(cls)
      .join(capSets.select(col("id").as("u"), col("n").as("na"),
        col("cs").as("csa")), "u")
      .join(capSets.select(col("id").as("v"), col("n").as("nb"),
        col("cs").as("csb")), "v")
      .withColumn("inter", sortedOverlap(col("csa"), col("csb")).cast(LongType))
      .filter(col("inter") * 1000 >= (col("na") + col("nb") - col("inter")) * 300)
      .select(col("u"), col("v"))
  }

  /** Triangle/wedge/transitivity stats of an undirected edge set
    * (`u` < `v`, LONG node ids, no duplicates) — q255's engine,
    * factored so TransitivitySpec can pin it against a brute-force
    * reference on random graphs (the degree-ordered orientation is
    * exactly the kind of refactor a property gate should watch). */
  private[graft] def graphTransitivity(edges0: DataFrame): DataFrame = {
    val dec = DecimalType(38, 0)
    val edges = edges0.localCheckpoint() // reused: degrees, 2-path, semi
    val deg = edges.select(col("u").as("x"))
      .union(edges.select(col("v").as("x")))
      .groupBy(col("x")).agg(count(lit(1)).as("d"))
      .localCheckpoint() // read by the wedge sum AND both orientation joins
    // wedge sum: Σd(d−1) folds in DECIMAL and is halved ONCE at the end
    // (Σd(d−1) is even, so the decimal division is exact) — a per-node
    // `div 2` would route each term through IntegralDivide's LONG
    // return, whose quotient wraps on a >4.3e9-degree hub
    val nodes = deg.agg(count(lit(1)).as("n_nodes"),
      (coalesce(sum(col("d").cast(dec) * (col("d") - lit(1)).cast(dec)),
        lit(0).cast(dec)) / lit(2)).cast(dec).as("n_wedges"))
    val nEdges = edges.agg(count(lit(1)).as("n_edges"))
    // DEGREE-ordered orientation (q117's convention): generating
    // 2-paths from the LOWER-degree endpoint bounds the blowup at
    // Σ d_oriented² instead of a hub's d² — on a dup graph a
    // boilerplate-heavy near-dup hub is exactly where id-orientation
    // explodes. Triangle COUNT is orientation-invariant (each triangle
    // counted once from its unique degree-min corner), so the
    // id-oriented oracle stays bit-identical.
    val orient = edges
      .join(deg.select(col("x").as("u"), col("d").as("du")), "u")
      .join(deg.select(col("x").as("v"), col("d").as("dv")), "v")
      .select(
        when(col("du") < col("dv") ||
          (col("du") === col("dv") && col("u") < col("v")),
          struct(col("u").as("a"), col("v").as("b")))
          .otherwise(struct(col("v").as("a"), col("u").as("b"))).as("e"))
      .select(col("e.a").as("a"), col("e.b").as("b"))
      // round 17 (q117's convention): the wedge self-join read the two
      // orientation joins once PER SIDE; partition on the wedge key and
      // checkpoint so they run once and the self-join needs no exchange
      // (safe to forfeit AQE skew-split: degree orientation bounds the
      // per-key wedge fan-out at O(√m) by construction)
      .repartition(col("a"))
      .localCheckpoint()
    val wedges2 = orient.alias("x")
      .join(orient.alias("y"),
        col("x.a") === col("y.a") && col("x.b") < col("y.b"))
      .select(col("x.b").as("u"), col("y.b").as("v"))
    // close against the UNDIRECTED edge set: the third side may run in
    // either id order
    val und = edges.select(least(col("u"), col("v")).as("u"),
      greatest(col("u"), col("v")).as("v"))
    val tri = wedges2
      .select(least(col("u"), col("v")).as("u"),
        greatest(col("u"), col("v")).as("v"))
      .join(und, Seq("u", "v"), "left_semi")
      .agg(count(lit(1)).as("n_triangles"))
    nodes.crossJoin(broadcast(nEdges)).crossJoin(broadcast(tri))
      .select(col("n_nodes"), col("n_edges"),
        col("n_wedges").cast(LongType).as("n_wedges"),
        col("n_triangles"),
        expr("CAST(CASE WHEN n_wedges > 0 THEN " +
          "(CAST(n_triangles AS DECIMAL(38,0)) * 3000000) div n_wedges " +
          "ELSE NULL END AS BIGINT)").as("transitivity_ppm"))
  }

  val q255Sql: String =
    """WITH cls AS (SELECT MIN(doc_id) AS id, text FROM documents GROUP BY text),
      |toks AS (SELECT id, string_split(text, ' ') AS t FROM cls),
      |csh AS (
      |  SELECT id, list_distinct(list_transform(
      |    range(1, greatest(len(t) - 2, 0) + 1),
      |    i -> concat_ws(' ', t[i], t[i+1], t[i+2]))) AS dsh
      |  FROM toks),
      |withsh AS (
      |  SELECT id, dsh, CAST(len(dsh) AS BIGINT) AS n
      |  FROM csh WHERE len(dsh) > 0),
      |posts_all AS (SELECT id, n, unnest(dsh) AS s FROM withsh),
      |posts AS (
      |  SELECT id, n, s FROM posts_all
      |  WHERE s IN (SELECT s FROM posts_all GROUP BY s HAVING COUNT(*) <= 50)),
      |edges AS (
      |  SELECT a.id AS u, b.id AS v
      |  FROM posts a JOIN posts b ON a.s = b.s AND a.id < b.id
      |  GROUP BY a.id, b.id, a.n, b.n
      |  HAVING COUNT(*) * 1000 >= (a.n + b.n - COUNT(*)) * 300),
      |deg AS (
      |  SELECT x, CAST(COUNT(*) AS BIGINT) AS d
      |  FROM (SELECT u AS x FROM edges UNION ALL SELECT v FROM edges)
      |  GROUP BY x),
      |nodes AS (
      |  SELECT CAST(COUNT(*) AS BIGINT) AS n_nodes,
      |    COALESCE(SUM(CAST(d AS HUGEINT) * (d - 1)),
      |      CAST(0 AS HUGEINT)) // 2 AS n_wedges
      |  FROM deg),
      |ne AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_edges FROM edges),
      |tri AS (
      |  SELECT CAST(COUNT(*) AS BIGINT) AS n_triangles
      |  FROM edges e1 JOIN edges e2 ON e1.v = e2.u
      |  WHERE EXISTS (SELECT 1 FROM edges c
      |    WHERE c.u = e1.u AND c.v = e2.v))
      |SELECT n_nodes, n_edges, CAST(n_wedges AS BIGINT) AS n_wedges,
      |  n_triangles,
      |  CAST(CASE WHEN n_wedges > 0 THEN
      |    (CAST(n_triangles AS HUGEINT) * 3000000) // n_wedges
      |    ELSE NULL END AS BIGINT) AS transitivity_ppm
      |FROM nodes CROSS JOIN ne CROSS JOIN tri""".stripMargin

  // ------------------------------------------------------------------
  // q256: decontamination collateral audit — how much NON-benchmark
  // training data would q134's benchmark decontamination remove, by
  // source and threshold? Over-aggressive decontamination silently
  // deletes legitimate data that merely SHARES PHRASES with a
  // benchmark (the collateral q134's pass never reports); this puts a
  // number on it per source for τ ∈ {0.35 (q134's own), 0.5, 0.7}
  // BEFORE the pass runs, off one pair table (q233's sweep shape: τ
  // explodes over the bounded per-class max table, never the corpus).
  //
  // Removal semantics mirror q134: a train doc is removed at τ iff
  // its max Jaccard against ANY benchmark doc ≥ τ. Classes collapse
  // on (text, source) — the verdict depends only on text, but removal
  // accounting is per source; identical text appearing in k sources
  // duplicates shingle work at most |sources|-fold (bounded, unlike
  // corpus duplication). Benchmark side: doc_id % 7 = 0, q134's
  // synthesized convention — in production the benchmark suite is a
  // small CONSTANT set, so the probe side of the posting join does
  // not grow with the corpus.
  //
  // Exactness: all-integer τ tests (inter·1000 ≥ union·τ_pm), exact
  // member/token sums, ppm by truncating division.
  // ------------------------------------------------------------------
  def q256DecontamCollateral(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    // the % 7 split is the SYNTHESIZED benchmark convention (no real
    // benchmark table ships with the TPC-H-ish testdata) — the oracle
    // pins this form; production callers pass their actual benchmark
    // suite through the overload below
    decontamCollateral(spark,
      docs.filter(col("doc_id") % 7 =!= 0),
      docs.filter(col("doc_id") % 7 === 0).select(col("doc_id"), col("text")))
  }

  /** Production form: collateral audit of `train` (doc_id, source,
    * text) against an ACTUAL benchmark table (doc_id, text) — the same
    * decontamination index q134 builds — instead of the synthesized
    * % 7 split. Semantics identical to the gated q256 path; the % 7
    * form stays the oracle anchor (DecontamOverloadSpec pins the two
    * agree on the synthesized split and that planted benchmark copies
    * are reported as removed). */
  def decontamCollateral(
      spark: SparkSession, train0: DataFrame, bench: DataFrame): DataFrame = {
    import spark.implicits._
    val train = train0
      .select(col("doc_id"), col("source"), col("text"),
        size(array_remove(split(col("text"), " "), ""))
          .cast(LongType).as("toks"))
    val benchSh = classShingles(bench.select(col("doc_id"), col("text")))
      .localCheckpoint()
    val trainCls = train.groupBy(col("text"), col("source"))
      .agg(min(col("doc_id")).as("id"), count(lit(1)).as("members"),
        sum(col("toks")).as("cls_toks"))
      .localCheckpoint() // reused: shingle side AND the removal rollup
    val trainSh = trainCls
      .select(col("id"), col("source"), col("members"), col("cls_toks"),
        array_distinct(graft.functions.TextHashFunctions
          .shingleMinhash(col("text"), 1, 3).getField("shingles")).as("sh"))
      .filter(size(col("sh")) > 0)
      .select(col("id"), col("source"), col("members"), col("cls_toks"),
        col("sh"), size(col("sh")).cast(LongType).as("n"))
    // Directional bucket-grouped posting join (round 16, the
    // PostingPairs shape): each side groups its postings per shingle
    // ONCE — the df ≤ 50 cap is a size() test on the list — and the
    // train×bench pair fan-out explodes in-bucket after a shingle-keyed
    // join of the two bucket tables. Replaces the former per-side
    // df-tally + semi-join + posting join (two extra aggregations and
    // two broadcast builds over the same postings). Collects are
    // BOUNDED at cap+1 (round 17, PostingPairs' convention) so a hot
    // boilerplate shingle never buffers O(df) postings pre-filter.
    val cap = 50
    val tBuckets = trainSh
      .select(col("id"), col("n"), explode(col("sh")).as("s"))
      .groupBy(col("s"))
      .agg(graft.functions.BoundedCollectList.boundedCollectList(
        struct(col("id"), col("n")), cap + 1).as("tl"))
      .filter(size(col("tl")) <= cap)
    val bBuckets = benchSh
      .select(col("id").as("bid"), col("n").as("nb"),
        explode(col("sh")).as("s"))
      .groupBy(col("s"))
      .agg(graft.functions.BoundedCollectList.boundedCollectList(
        struct(col("bid"), col("nb")), cap + 1).as("bl"))
      .filter(size(col("bl")) <= cap)
    val best = tBuckets.join(bBuckets, "s")
      .select(explode(col("tl")).as("a"), col("bl"))
      .select(col("a"), explode(col("bl")).as("b"))
      .groupBy(col("a.id").as("id"), col("b.bid").as("bid"),
        col("a.n").as("n"), col("b.nb").as("nb"))
      .agg(count(lit(1)).as("inter"))
      .select(col("id"),
        (col("inter") * 1000).as("i1000"),
        (col("n") + col("nb") - col("inter")).as("uni"))
      .groupBy(col("id"))
      .agg(max(expr("CAST(i1000 * 1000000 div uni AS BIGINT)")).as("jac_ppm2"))
    // jac_ppm2 is Jaccard·10⁹ (inter·1000·10⁶ / union), so the τ test
    // against tau_pm (permille) needs tau_pm·10⁶ — both exact integers
    val taus = Seq(350L, 500L, 700L).toDF("tau_pm")
    val verdicts = trainCls
      .join(best.select(col("id"), col("jac_ppm2")), Seq("id"), "left")
      .na.fill(0L, Seq("jac_ppm2"))
      .crossJoin(broadcast(taus))
      .withColumn("removed", col("jac_ppm2") >= col("tau_pm") * 1000000L)
    verdicts.groupBy(col("tau_pm"), col("source"))
      .agg(sum(when(col("removed"), col("members")).otherwise(0L))
          .as("docs_removed"),
        sum(when(col("removed"), col("cls_toks")).otherwise(0L))
          .as("tokens_removed"),
        sum(col("members")).as("total_docs"))
      .select(col("tau_pm"), col("source"), col("docs_removed"),
        col("tokens_removed"),
        expr("CAST(CASE WHEN total_docs > 0 THEN " +
          "docs_removed * 1000000 div total_docs ELSE 0 END AS BIGINT)")
          .as("removed_ppm"))
      .orderBy(col("tau_pm"), col("source"))
  }

  val q256Sql: String =
    """WITH docs AS (
      |  SELECT doc_id, source, text,
      |    CAST(len(list_filter(string_split(text, ' '), w -> w <> ''))
      |      AS BIGINT) AS toks
      |  FROM documents),
      |bcls AS (
      |  SELECT MIN(doc_id) AS id, text FROM docs
      |  WHERE doc_id % 7 = 0 GROUP BY text),
      |bsh0 AS (
      |  SELECT id, list_distinct(list_transform(
      |    range(1, greatest(len(string_split(text, ' ')) - 2, 0) + 1),
      |    i -> concat_ws(' ', string_split(text, ' ')[i],
      |      string_split(text, ' ')[i+1], string_split(text, ' ')[i+2])))
      |    AS dsh
      |  FROM bcls),
      |bsh AS (SELECT id, dsh, CAST(len(dsh) AS BIGINT) AS n
      |  FROM bsh0 WHERE len(dsh) > 0),
      |bposts_all AS (SELECT id AS bid, n AS nb, unnest(dsh) AS s FROM bsh),
      |bposts AS (
      |  SELECT bid, nb, s FROM bposts_all
      |  WHERE s IN (SELECT s FROM bposts_all GROUP BY s
      |    HAVING COUNT(*) <= 50)),
      |tcls AS (
      |  SELECT text, source, MIN(doc_id) AS id,
      |    CAST(COUNT(*) AS BIGINT) AS members,
      |    CAST(SUM(toks) AS BIGINT) AS cls_toks
      |  FROM docs WHERE doc_id % 7 <> 0 GROUP BY text, source),
      |tsh0 AS (
      |  SELECT id, list_distinct(list_transform(
      |    range(1, greatest(len(string_split(text, ' ')) - 2, 0) + 1),
      |    i -> concat_ws(' ', string_split(text, ' ')[i],
      |      string_split(text, ' ')[i+1], string_split(text, ' ')[i+2])))
      |    AS dsh
      |  FROM tcls),
      |tsh AS (SELECT id, dsh, CAST(len(dsh) AS BIGINT) AS n
      |  FROM tsh0 WHERE len(dsh) > 0),
      |tposts_all AS (SELECT id, n, unnest(dsh) AS s FROM tsh),
      |tposts AS (
      |  SELECT id, n, s FROM tposts_all
      |  WHERE s IN (SELECT s FROM tposts_all GROUP BY s
      |    HAVING COUNT(*) <= 50)),
      |pairs AS (
      |  SELECT t.id, b.bid, t.n, b.nb, CAST(COUNT(*) AS BIGINT) AS inter
      |  FROM tposts t JOIN bposts b ON t.s = b.s
      |  GROUP BY t.id, b.bid, t.n, b.nb),
      |best AS (
      |  SELECT id, MAX(CAST(inter * 1000 * 1000000 //
      |    (n + nb - inter) AS BIGINT)) AS jac_ppm2
      |  FROM pairs GROUP BY id),
      |sweep(tau_pm) AS (VALUES (CAST(350 AS BIGINT)), (500), (700)),
      |verdicts AS (
      |  SELECT s.tau_pm, t.source, t.members, t.cls_toks,
      |    COALESCE(b.jac_ppm2, 0) >= s.tau_pm * 1000000 AS removed
      |  FROM tcls t LEFT JOIN best b ON b.id = t.id CROSS JOIN sweep s)
      |SELECT tau_pm, source,
      |  CAST(SUM(CASE WHEN removed THEN members ELSE 0 END) AS BIGINT)
      |    AS docs_removed,
      |  CAST(SUM(CASE WHEN removed THEN cls_toks ELSE 0 END) AS BIGINT)
      |    AS tokens_removed,
      |  CAST(CASE WHEN SUM(members) > 0 THEN
      |    SUM(CASE WHEN removed THEN members ELSE 0 END) * 1000000
      |      // SUM(members) ELSE 0 END AS BIGINT) AS removed_ppm
      |FROM verdicts GROUP BY tau_pm, source
      |ORDER BY tau_pm, source""".stripMargin

  // ------------------------------------------------------------------
  // q260: MinHash estimator calibration — the whole dedup family
  // (q31/q184/q222/q255-banded) trusts "matching signature components
  // / k ≈ Jaccard"; this measures that estimator against EXACT Jaccard
  // on the live corpus, binned by the estimate itself: for every
  // banded candidate pair, the number of equal components (1..9) vs
  // the exact distinct-shingle Jaccard — n_pairs, mean, min and max
  // true J per estimated-match count. Heavy mass in MID est bins with
  // near-zero true J means the hash components are correlated on this
  // corpus and every banded recall number upstream is optimistic —
  // exactly what this audit caught in the retired rotation family
  // (round 15: est=2..4 bins carried J ≈ 0.01–0.03), prompting the
  // round-16 seeded-splitmix64 replacement it now certifies (mid bins
  // empty on the natural corpus; low bins are Bayes-dominated by the
  // corpus's near-zero-J pair mass, so ONLY the mid/high bins carry
  // the correlation signal). q184 audits the BANDING layout (candidate
  // recall/precision); this audits the ESTIMATOR the banding is built
  // from.
  //
  // Exactness: est is an integer component count; true J is the
  // all-integer inter·10⁶ div (n_a+n_b−inter) over distinct shingle
  // sets; mean is one truncating division of exact sums. Candidates
  // come from the 9×1 band join, so the pair domain is the banding's
  // own candidate set (never all pairs) and every pair has est ≥ 1.
  //
  // 100 TB shape: exact-class collapse, one band-key exchange, then
  // per-candidate merge walks over the sorted shingle sets
  // (`sortedOverlap`); the rollup output is ≤ 9 rows.
  // ------------------------------------------------------------------
  def q260MinhashCalibration(spark: SparkSession, dir: String): DataFrame = {
    val cls = sigClasses(Tables.documents(spark, dir))
      .localCheckpoint() // reused: band explode AND both pair sides
    val sides = cls.select(col("id"), col("sh"), col("n"), col("sig"))
    val pairs = bandCandidates(cls)
      .join(sides.select(col("id").as("u"), col("sh").as("sha"),
        col("n").as("na"), col("sig").as("siga")), "u")
      .join(sides.select(col("id").as("v"), col("sh").as("shb"),
        col("n").as("nb"), col("sig").as("sigb")), "v")
      // round 17: matching-component count as an explicit sum of 9
      // element_at comparisons (q265's form) — the former
      // aggregate(zip_with(...)) pair of higher-order functions is
      // CodegenFallback and ran interpreted per candidate pair, the one
      // non-codegen expression in this query's verify stage (guide §4)
      .withColumn("est", (0 until 9).map(j =>
          when(element_at(col("siga"), j + 1) ===
            element_at(col("sigb"), j + 1), 1L).otherwise(0L))
        .reduce(_ + _))
      .withColumn("inter", sortedOverlap(col("sha"), col("shb")).cast(LongType))
      .select(col("est"),
        expr("CAST(inter * 1000000 div (na + nb - inter) AS BIGINT)")
          .as("jac_ppm"))
    pairs.groupBy(col("est").as("est_matches"))
      .agg(count(lit(1)).as("n_pairs"),
        // SUM in DECIMAL: a corpus-scale est bin can hold > 9.2e12
        // pairs of up-to-1e6 ppm values, past Long — the oracle sums
        // in HUGEINT
        expr("CAST(SUM(CAST(jac_ppm AS DECIMAL(38,0))) div COUNT(*) " +
          "AS BIGINT)").as("mean_jac_ppm"),
        min(col("jac_ppm")).as("min_jac_ppm"),
        max(col("jac_ppm")).as("max_jac_ppm"))
      .orderBy(col("est_matches"))
  }

  val q260Sql: String =
    s"""WITH cls AS (SELECT MIN(doc_id) AS id, text FROM documents GROUP BY text),
      |toks AS (SELECT id, string_split(text, ' ') AS t FROM cls),
      |sh AS (
      |  SELECT id, list_transform(
      |    range(1, greatest(len(t) - 2, 0) + 1),
      |    i -> concat_ws(' ', t[i], t[i+1], t[i+2])) AS shingles
      |  FROM toks),
      |hashed AS (
      |  SELECT id, shingles FROM sh WHERE len(shingles) > 0),
      |${MinhashSql.sigCtes("hashed", "id")}
      |sigx AS MATERIALIZED (
      |  SELECT id, list_distinct(shingles) AS dsh,
      |    CAST(len(list_distinct(shingles)) AS BIGINT) AS n, sig AS sg
      |  FROM sig),
      |banded AS (
      |  SELECT id, unnest(list_transform(range(0, 9),
      |    b -> md5(concat_ws('|', sg[b+1], CAST(b AS VARCHAR))))) AS bk
      |  FROM sigx),
      |cand AS (
      |  SELECT DISTINCT a.id AS ia, b.id AS ib
      |  FROM banded a JOIN banded b ON a.bk = b.bk AND a.id < b.id),
      |pairs AS (
      |  SELECT
      |    CAST(len(list_filter(range(0, 9),
      |      j -> sa.sg[j+1] = sb.sg[j+1])) AS BIGINT) AS est,
      |    CAST(len(list_intersect(sa.dsh, sb.dsh)) AS BIGINT) AS inter,
      |    sa.n + sb.n AS nn
      |  FROM cand c
      |  JOIN sigx sa ON sa.id = c.ia
      |  JOIN sigx sb ON sb.id = c.ib),
      |j AS (
      |  SELECT est,
      |    CAST(inter * 1000000 // (nn - inter) AS BIGINT) AS jac_ppm
      |  FROM pairs)
      |SELECT est AS est_matches, CAST(COUNT(*) AS BIGINT) AS n_pairs,
      |  CAST(CAST(SUM(jac_ppm) AS HUGEINT) // COUNT(*) AS BIGINT)
      |    AS mean_jac_ppm,
      |  MIN(jac_ppm) AS min_jac_ppm,
      |  MAX(jac_ppm) AS max_jac_ppm
      |FROM j GROUP BY est ORDER BY est""".stripMargin

  // ------------------------------------------------------------------
  // q265: MinHash k-sweep — how many hash components does THIS corpus
  // need? For k ∈ {4, 9, 16} (prefixes of ONE 16-component seeded
  // signature — seed j is j·GOLDEN, so a k-prefix IS the k-hash
  // family), measure estimator accuracy est_k/k vs exact Jaccard over
  // the banded candidate pairs (q260's 9-band × 1-row source; never
  // all pairs). Output per k: pair count, mean |error| and mean
  // squared error in ppm — the table that justifies (or indicts) the
  // suite's default k = 9 after the round-16 family replacement.
  //
  // Scale shape: exact-class collapse → ONE 16-component signature
  // pass → q260's band-key self-join on class ids → per-candidate
  // component compare + exact sorted-set overlap → 3-row rollup.
  // All-integer error arithmetic (est·10⁶ div k, DECIMAL-widened
  // squares per the ppm-product convention).
  // ------------------------------------------------------------------
  def q265MinhashKSweep(spark: SparkSession, dir: String): DataFrame = {
    val dec = DecimalType(38, 0)
    // checkpoint the FINISHED projection (q260's sigClasses shape) so
    // the distinct/size work runs once, not per reuse
    val cls = Tables.documents(spark, dir)
      .groupBy(col("text")).agg(min(col("doc_id")).as("id"))
      .select(col("id"), graft.functions.TextHashFunctions
        .shingleMinhash(col("text"), 16, 3).as("sm"))
      .select(col("id"), sort_array(array_distinct(col("sm.shingles"))).as("dsh"),
        col("sm.sig").as("sg"))
      .filter(size(col("dsh")) > 0)
      .select(col("id"), col("dsh"),
        size(col("dsh")).cast(LongType).as("n"), col("sg"))
      .localCheckpoint() // reused: band explode AND both verify sides
    // the SAME band key as q260's bandCandidates (Dedup.bandKey with
    // rows = 1) — q265's validity rests on auditing exactly q260's
    // candidate population
    val banded = cls.select(col("id"),
      explode(array((0 until 9).map(b =>
        graft.operators.Dedup.bandKey(col("sg"), b, 1)): _*)).as("bk"))
    val cand = banded.alias("a")
      .join(banded.alias("b"),
        col("a.bk") === col("b.bk") && col("a.id") < col("b.id"))
      .select(col("a.id").as("ia"), col("b.id").as("ib"))
      .dropDuplicates("ia", "ib")
    val pairs = cand
      .join(cls.select(col("id").as("ia"), col("dsh").as("da"),
        col("n").as("na"), col("sg").as("sga")), "ia")
      .join(cls.select(col("id").as("ib"), col("dsh").as("db"),
        col("n").as("nb"), col("sg").as("sgb")), "ib")
      .select(
        (Seq(
          sortedOverlap(col("da"), col("db")).cast(LongType).as("inter"),
          (col("na") + col("nb")).as("nn")) ++
        (0 until 16).map(j =>
          when(element_at(col("sga"), j + 1) === element_at(col("sgb"), j + 1),
            1L).otherwise(0L).as(s"m$j"))): _*)
      .withColumn("jac_ppm",
        expr("CAST(CAST(inter AS DECIMAL(38,0)) * 1000000 div (nn - inter) AS BIGINT)"))
    val ks = Seq(4, 9, 16)
    val swept = pairs.select(col("jac_ppm"),
      explode(array(ks.map { k =>
        struct(lit(k.toLong).as("k"),
          expr(s"CAST(CAST((${(0 until k).map(j => s"m$j").mkString(" + ")}) " +
            s"AS DECIMAL(38,0)) * 1000000 div $k AS BIGINT)").as("est_ppm"))
      }: _*)).as("e"))
      .select(col("e.k").as("k"), (col("e.est_ppm") - col("jac_ppm")).as("err"))
    swept.groupBy(col("k"))
      .agg(count(lit(1)).as("n_pairs"),
        expr("CAST(SUM(CAST(abs(err) AS DECIMAL(38,0))) div COUNT(*) AS BIGINT)")
          .as("mean_abs_err_ppm"),
        expr("CAST(SUM(CAST(err AS DECIMAL(38,0)) * CAST(err AS DECIMAL(38,0))) " +
          "div COUNT(*) AS BIGINT)").as("mse_ppm2"))
      .orderBy(col("k"))
  }

  val q265Sql: String =
    s"""WITH cls AS (SELECT MIN(doc_id) AS id, text FROM documents GROUP BY text),
      |toks AS (SELECT id, string_split(text, ' ') AS t FROM cls),
      |sh AS (
      |  SELECT id, list_transform(
      |    range(1, greatest(len(t) - 2, 0) + 1),
      |    i -> concat_ws(' ', t[i], t[i+1], t[i+2])) AS shingles
      |  FROM toks),
      |hashed AS (
      |  SELECT id, shingles FROM sh WHERE len(shingles) > 0),
      |${MinhashSql.sigCtes("hashed", "id", 16)}
      |sigx AS MATERIALIZED (
      |  SELECT id, list_distinct(shingles) AS dsh,
      |    CAST(len(list_distinct(shingles)) AS BIGINT) AS n, sig AS sg
      |  FROM sig),
      |banded AS (
      |  SELECT id, unnest(list_transform(range(0, 9),
      |    b -> md5(concat_ws('|', sg[b+1], CAST(b AS VARCHAR))))) AS bk
      |  FROM sigx),
      |cand AS (
      |  SELECT DISTINCT a.id AS ia, b.id AS ib
      |  FROM banded a JOIN banded b ON a.bk = b.bk AND a.id < b.id),
      |pairs AS (
      |  SELECT
      |    CAST(len(list_intersect(sa.dsh, sb.dsh)) AS BIGINT) AS inter,
      |    sa.n + sb.n AS nn,
      |    list_transform(range(0, 16),
      |      j -> CASE WHEN sa.sg[j+1] = sb.sg[j+1] THEN 1 ELSE 0 END) AS m
      |  FROM cand c
      |  JOIN sigx sa ON sa.id = c.ia
      |  JOIN sigx sb ON sb.id = c.ib),
      |ks(k) AS (VALUES (4), (9), (16)),
      |errs AS (
      |  SELECT ks.k,
      |    CAST(CAST(list_sum(list_slice(p.m, 1, ks.k)) AS HUGEINT)
      |      * 1000000 // ks.k AS BIGINT)
      |    - CAST(CAST(p.inter AS HUGEINT) * 1000000 // (p.nn - p.inter)
      |      AS BIGINT) AS err
      |  FROM pairs p CROSS JOIN ks)
      |SELECT CAST(k AS BIGINT) AS k, CAST(COUNT(*) AS BIGINT) AS n_pairs,
      |  CAST(SUM(CAST(abs(err) AS HUGEINT)) // COUNT(*) AS BIGINT)
      |    AS mean_abs_err_ppm,
      |  CAST(SUM(CAST(err AS HUGEINT) * CAST(err AS HUGEINT)) // COUNT(*)
      |    AS BIGINT) AS mse_ppm2
      |FROM errs GROUP BY k ORDER BY k""".stripMargin

  // ------------------------------------------------------------------
  // q266: KMV cross-source shingle-overlap sketch — the source×source
  // resemblance matrix WITHOUT the posting self-join q222 pays. Each
  // source keeps the k = 256 smallest distinct md5-u64 shingle hashes
  // (a [[graft.functions.KmvAggregate]] bounded sketch: map-side
  // partials cap at k longs, ONE exchange of sources×k longs at any
  // corpus size); source pairs then estimate Jaccard from sketches
  // alone — K = k-th smallest of the sketch union, estimate =
  // |common ≤ K| / |union ≤ K| (Beyer et al., SIGMOD 2007). Exact when
  // a source has < k distinct shingles. The sketch build is the
  // production path at 100 TB; q222's exact pair machinery stays the
  // precision anchor.
  //
  // Determinism: md5-u64 is the frozen content hash (no RNG); ties
  // impossible (distinct values); signed ordering in both engines (the
  // oracle recenters its unsigned HUGEINT into signed range).
  // ------------------------------------------------------------------
  def q266KmvSourceOverlap(spark: SparkSession, dir: String): DataFrame = {
    val k = 256
    val sk = Tables.documents(spark, dir)
      .select(col("source"),
        explode(array_distinct(graft.functions.TextHashFunctions
          .shingleMinhash(col("text"), 1, 3).getField("shingles"))).as("s"))
      .select(col("source"), graft.functions.TextHashFunctions.md5U64(col("s")).as("h"))
      .groupBy(col("source"))
      .agg(graft.functions.KmvAggregate.kmv(col("h"), k).as("sk"))
      .localCheckpoint() // both sides of the 20×20 pair cross
    val pairs = sk.select(col("source").as("source_a"), col("sk").as("ska"))
      .crossJoin(sk.select(col("source").as("source_b"), col("sk").as("skb")))
      .filter(col("source_a") < col("source_b"))
    pairs.select(col("source_a"), col("source_b"),
        array_sort(array_union(col("ska"), col("skb"))).as("u"),
        array_sort(array_intersect(col("ska"), col("skb"))).as("c"))
      .select(col("source_a"), col("source_b"),
        least(size(col("u")), lit(k)).cast(LongType).as("n_merged"),
        element_at(col("u"), least(size(col("u")), lit(k))).as("kth"),
        col("c"))
      .select(col("source_a"), col("source_b"), col("n_merged"),
        size(filter(col("c"), v => v <= col("kth"))).cast(LongType).as("n_common"))
      .withColumn("jaccard_est_ppm",
        expr("CAST(CAST(n_common AS DECIMAL(38,0)) * 1000000 div n_merged AS BIGINT)"))
      .orderBy(col("source_a"), col("source_b"))
  }

  val q266Sql: String =
    s"""WITH toks AS (
      |  SELECT source, string_split(text, ' ') AS t FROM documents),
      |ex AS (
      |  SELECT DISTINCT source, unnest(list_distinct(list_transform(
      |    range(1, greatest(len(t) - 2, 0) + 1),
      |    i -> concat_ws(' ', t[i], t[i+1], t[i+2])))) AS s
      |  FROM toks),
      |hx AS (SELECT source, md5(s) AS h FROM ex),
      |hv AS (SELECT source,
      |  ${MinhashSql.signedOf(MinhashSql.hex64Of("h"))} AS v FROM hx),
      |sk AS (
      |  SELECT source, v FROM (
      |    SELECT source, v,
      |      ROW_NUMBER() OVER (PARTITION BY source ORDER BY v) AS rn
      |    FROM (SELECT DISTINCT source, v FROM hv))
      |  WHERE rn <= 256),
      |ska AS (SELECT source, list(v ORDER BY v) AS l FROM sk GROUP BY source),
      |pr AS (
      |  SELECT a.source AS source_a, b.source AS source_b,
      |    list_sort(list_distinct(a.l || b.l)) AS u,
      |    list_sort(list_intersect(a.l, b.l)) AS c
      |  FROM ska a JOIN ska b ON a.source < b.source),
      |est AS (
      |  SELECT source_a, source_b,
      |    CAST(least(len(u), 256) AS BIGINT) AS n_merged,
      |    u[least(len(u), 256)] AS kth, c
      |  FROM pr)
      |SELECT source_a, source_b, n_merged,
      |  CAST(len(list_filter(c, v -> v <= kth)) AS BIGINT) AS n_common,
      |  CAST(CAST(len(list_filter(c, v -> v <= kth)) AS HUGEINT) * 1000000
      |    // n_merged AS BIGINT) AS jaccard_est_ppm
      |FROM est ORDER BY source_a, source_b""".stripMargin

  // ------------------------------------------------------------------
  // q267: shingle document-frequency tail — the audit behind the
  // suite's own df ≤ 50 posting cap (cappedPosts here, q114/q146/
  // q232/q233/q255/q256...). Per power-of-two df bin: how many
  // distinct shingles land there, how many posting rows (Σdf) they
  // contribute, and how much of that posting mass the cap keeps. The
  // quadratic cost of every posting self-join lives in Σdf² — this
  // table shows where it concentrates and what the cap discards
  // (boilerplate shingles are exactly the high-df tail).
  //
  // Scale shape: exact-class collapse → distinct-shingle explode →
  // ONE df tally (map-side combined) → ~20-row log-binned rollup.
  // Integer bin = bit length − 1 (length of the base-2 string — no
  // floating log2, which is libm-dependent at bin edges).
  // ------------------------------------------------------------------
  def q267ShingleDfTail(spark: SparkSession, dir: String): DataFrame = {
    val df = classShingles(Tables.documents(spark, dir))
      .select(explode(col("sh")).as("s"))
      .groupBy(col("s")).agg(count(lit(1)).as("df"))
    df.groupBy((length(conv(col("df").cast(StringType), 10, 2)) - 1)
        .cast(LongType).as("df_bin"))
      .agg(count(lit(1)).as("n_shingles"),
        expr("CAST(SUM(CAST(df AS DECIMAL(38,0))) AS BIGINT)").as("posting_rows"),
        expr("CAST(SUM(CASE WHEN df <= 50 THEN CAST(df AS DECIMAL(38,0)) " +
          "ELSE CAST(0 AS DECIMAL(38,0)) END) AS BIGINT)").as("kept_rows"))
      .withColumn("kept_ppm",
        expr("CAST(CAST(kept_rows AS DECIMAL(38,0)) * 1000000 " +
          "div greatest(posting_rows, 1) AS BIGINT)"))
      .orderBy(col("df_bin"))
  }

  val q267Sql: String =
    """WITH cls AS (SELECT MIN(doc_id) AS id, text FROM documents GROUP BY text),
      |toks AS (SELECT id, string_split(text, ' ') AS t FROM cls),
      |csh AS (
      |  SELECT id, list_distinct(list_transform(
      |    range(1, greatest(len(t) - 2, 0) + 1),
      |    i -> concat_ws(' ', t[i], t[i+1], t[i+2]))) AS dsh
      |  FROM toks),
      |posts AS (
      |  SELECT unnest(dsh) AS s FROM csh WHERE len(dsh) > 0),
      |dfs AS (SELECT s, CAST(COUNT(*) AS BIGINT) AS df FROM posts GROUP BY s),
      |bins AS (
      |  SELECT CAST(length(bin(df)) - 1 AS BIGINT) AS df_bin,
      |    CAST(COUNT(*) AS BIGINT) AS n_shingles,
      |    CAST(SUM(CAST(df AS HUGEINT)) AS BIGINT) AS posting_rows,
      |    CAST(SUM(CASE WHEN df <= 50 THEN CAST(df AS HUGEINT)
      |      ELSE 0::HUGEINT END) AS BIGINT) AS kept_rows
      |  FROM dfs GROUP BY 1)
      |SELECT df_bin, n_shingles, posting_rows, kept_rows,
      |  CAST(CAST(kept_rows AS HUGEINT) * 1000000
      |    // greatest(posting_rows, 1) AS BIGINT) AS kept_ppm
      |FROM bins ORDER BY df_bin""".stripMargin

  // ------------------------------------------------------------------
  // q268: posting-cap distortion audit — what the df ≤ 50 cap COSTS in
  // similarity fidelity. The capped-τ test every corpus-scale dedup
  // path runs (q255's exact AND banded engines, q232, q233) computes
  // Jaccard over CAPPED shingle sets; this measures, on a decimated
  // class sample (the q248/q232 sampleModulus convention, ~200
  // classes at any scale), the divergence |J_full − J_capped| per
  // magnitude bucket. Near-zero divergence certifies the cap is
  // dropping only boilerplate; mass in the high buckets means capped
  // similarity is systematically biased on this corpus.
  //
  // Scale shape: corpus-wide df tally once (the cap is GLOBAL df, as
  // in production); sample classes via modulus; shared-shingle
  // inverted-index pair source over the SAMPLE (never all pairs);
  // per-pair two Jaccards from the same intersection pass; 4-row
  // bucket rollup.
  // ------------------------------------------------------------------
  def q268PostingCapEffect(spark: SparkSession, dir: String): DataFrame = {
    val cls = classShingles(Tables.documents(spark, dir))
      .localCheckpoint() // counted for the modulus AND df AND sampled
    val modulus = StatsQueries.sampleModulus(cls.count(), 200L)
    val dfs = cls.select(explode(col("sh")).as("s"))
      .groupBy(col("s")).agg(count(lit(1)).as("df"))
    val samp = cls.filter(col("id") % modulus === 0)
      .select(col("id"), col("sh"), col("n"))
      .select(col("id"), col("n"), explode(col("sh")).as("s"))
      .join(dfs, "s")
      .groupBy(col("id"), col("n"))
      .agg(collect_list(col("s")).as("sh"),
        collect_list(when(col("df") <= 50, col("s"))).as("capped"))
      // both lists are ascending for the merge-walk verify and distinct
      // already: each class posts each distinct shingle once, and the df
      // join keeps one row per shingle
      .select(col("id"), col("n"), sort_array(col("sh")).as("sh"),
        sort_array(col("capped")).as("capped"),
        size(col("capped")).cast(LongType).as("nc"))
      .localCheckpoint() // both sides of the pair join
    val inv = samp.select(col("id"), explode(col("sh")).as("s"))
    val cand = inv.alias("a")
      .join(inv.alias("b"), col("a.s") === col("b.s") && col("a.id") < col("b.id"))
      .select(col("a.id").as("ia"), col("b.id").as("ib"))
      .dropDuplicates("ia", "ib")
    val pairs = cand
      .join(samp.select(col("id").as("ia"), col("sh").as("fa"),
        col("n").as("na"), col("capped").as("ca"), col("nc").as("nca")), "ia")
      .join(samp.select(col("id").as("ib"), col("sh").as("fb"),
        col("n").as("nb"), col("capped").as("cb"), col("nc").as("ncb")), "ib")
      .select(
        sortedOverlap(col("fa"), col("fb")).cast(LongType).as("if_"),
        (col("na") + col("nb")).as("nf"),
        sortedOverlap(col("ca"), col("cb")).cast(LongType).as("ic"),
        (col("nca") + col("ncb")).as("nc2"))
      .select(
        expr("CAST(CAST(if_ AS DECIMAL(38,0)) * 1000000 div (nf - if_) AS BIGINT)")
          .as("jf_ppm"),
        expr("CAST(CASE WHEN nc2 - ic > 0 THEN CAST(ic AS DECIMAL(38,0)) " +
          "* 1000000 div (nc2 - ic) ELSE 0 END AS BIGINT)").as("jc_ppm"))
      .withColumn("d", abs(col("jf_ppm") - col("jc_ppm")))
    pairs.groupBy(
        when(col("d") === 0, 0L).when(col("d") <= 10000, 1L)
          .when(col("d") <= 100000, 2L).otherwise(3L).as("divergence_bucket"))
      .agg(count(lit(1)).as("n_pairs"),
        expr("CAST(SUM(CAST(jf_ppm AS DECIMAL(38,0))) div COUNT(*) AS BIGINT)")
          .as("mean_full_ppm"),
        expr("CAST(SUM(CAST(jc_ppm AS DECIMAL(38,0))) div COUNT(*) AS BIGINT)")
          .as("mean_capped_ppm"),
        max(col("d")).as("max_divergence_ppm"))
      .orderBy(col("divergence_bucket"))
  }

  val q268Sql: String =
    """WITH cls AS (SELECT MIN(doc_id) AS id, text FROM documents GROUP BY text),
      |toks AS (SELECT id, string_split(text, ' ') AS t FROM cls),
      |csh AS (
      |  SELECT id, list_distinct(list_transform(
      |    range(1, greatest(len(t) - 2, 0) + 1),
      |    i -> concat_ws(' ', t[i], t[i+1], t[i+2]))) AS dsh
      |  FROM toks),
      |withsh AS (
      |  SELECT id, dsh, CAST(len(dsh) AS BIGINT) AS n
      |  FROM csh WHERE len(dsh) > 0),
      |md AS (SELECT greatest(1, COUNT(*) // 200) AS m FROM withsh),
      |dfs AS (
      |  SELECT s, CAST(COUNT(*) AS BIGINT) AS df
      |  FROM (SELECT unnest(dsh) AS s FROM withsh) GROUP BY s),
      |keep AS (SELECT s FROM dfs WHERE df <= 50),
      |sampx AS (
      |  SELECT id, n, dsh FROM withsh, md WHERE id % md.m = 0),
      |cagg AS (
      |  SELECT c.id, list(c.s) AS capped
      |  FROM (SELECT id, unnest(dsh) AS s FROM sampx) c
      |  JOIN keep k ON c.s = k.s GROUP BY c.id),
      |sx AS (
      |  SELECT x.id, x.n, x.dsh,
      |    COALESCE(g.capped, []::VARCHAR[]) AS capped,
      |    CAST(len(COALESCE(g.capped, []::VARCHAR[])) AS BIGINT) AS nc
      |  FROM sampx x LEFT JOIN cagg g ON g.id = x.id),
      |inv AS (SELECT id, unnest(dsh) AS s FROM sx),
      |cand AS (
      |  SELECT DISTINCT a.id AS ia, b.id AS ib
      |  FROM inv a JOIN inv b ON a.s = b.s AND a.id < b.id),
      |pairs AS (
      |  SELECT
      |    CAST(len(list_intersect(sa.dsh, sb.dsh)) AS BIGINT) AS if_,
      |    sa.n + sb.n AS nf,
      |    CAST(len(list_intersect(sa.capped, sb.capped)) AS BIGINT) AS ic,
      |    sa.nc + sb.nc AS nc2
      |  FROM cand c JOIN sx sa ON sa.id = c.ia JOIN sx sb ON sb.id = c.ib),
      |jacs AS (
      |  SELECT
      |    CAST(CAST(if_ AS HUGEINT) * 1000000 // (nf - if_) AS BIGINT) AS jf_ppm,
      |    CAST(CASE WHEN nc2 - ic > 0
      |      THEN CAST(ic AS HUGEINT) * 1000000 // (nc2 - ic)
      |      ELSE 0 END AS BIGINT) AS jc_ppm
      |  FROM pairs),
      |diffs AS (
      |  SELECT jf_ppm, jc_ppm, abs(jf_ppm - jc_ppm) AS d FROM jacs)
      |SELECT
      |  CAST(CASE WHEN d = 0 THEN 0 WHEN d <= 10000 THEN 1
      |    WHEN d <= 100000 THEN 2 ELSE 3 END AS BIGINT) AS divergence_bucket,
      |  CAST(COUNT(*) AS BIGINT) AS n_pairs,
      |  CAST(SUM(CAST(jf_ppm AS HUGEINT)) // COUNT(*) AS BIGINT)
      |    AS mean_full_ppm,
      |  CAST(SUM(CAST(jc_ppm AS HUGEINT)) // COUNT(*) AS BIGINT)
      |    AS mean_capped_ppm,
      |  CAST(MAX(d) AS BIGINT) AS max_divergence_ppm
      |FROM diffs GROUP BY 1 ORDER BY 1""".stripMargin
}
