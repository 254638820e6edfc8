package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.functions.{GramAggregate, LongGramAggregate}
import graft.operators.{Bpe, Dedup, IntEigen}
import graft.sources.Tables

/**
 * Pretraining-data assembly queries: the corpus-level decisions made
 * AFTER curation and dedup — how much of each source to sample, which
 * documents match the target domain, what the tokenizer should learn,
 * and whether the eval benchmarks leaked into the training set.
 *
 * Parity design (suite convention): integer arithmetic until one final
 * division; IEEE-exact sqrt allowed; log2 addends rounded to 6 dp
 * BEFORE summing (identical addends both engines — q89's contract);
 * final floats rounded to 4 dp; any ordering used for top-k sorts on
 * the ROUNDED value with an integer tiebreak.
 */
object PretrainQueries {

  // ------------------------------------------------------------------
  // q127: temperature-scaled source mixture (the multilingual/multi-
  // source sampling rule of mT5/XLM-R: p_s ∝ n_s^α, here α = ½ so the
  // power is an IEEE-exact sqrt). One tiny aggregation (sources), one
  // one-row total broadcast back — nothing corpus-sized moves. `boost`
  // is the up/down-sampling factor vs natural frequency: >1 means the
  // source is repeated at training time, <1 means it is subsampled.
  // ------------------------------------------------------------------
  def q127MixtureWeights(spark: SparkSession, dir: String): DataFrame = {
    val counts = Tables.documents(spark, dir)
      .groupBy(col("source")).agg(count(lit(1)).as("n_docs"))
    val tot = counts.agg(
      sum(col("n_docs")).as("total"),
      sum(sqrt(col("n_docs").cast(DoubleType))).as("z"))
    counts.crossJoin(broadcast(tot))
      .select(col("source"), col("n_docs"),
        round(sqrt(col("n_docs").cast(DoubleType)) / col("z"), 4).as("weight"),
        round(sqrt(col("n_docs").cast(DoubleType)) / col("z")
          * col("total").cast(DoubleType) / col("n_docs").cast(DoubleType), 4)
          .as("boost"))
  }

  val q127Sql: String =
    """WITH counts AS (
      |  SELECT source, COUNT(*) AS n_docs FROM documents GROUP BY source),
      |tot AS (
      |  SELECT CAST(SUM(n_docs) AS BIGINT) AS total,
      |    SUM(sqrt(CAST(n_docs AS DOUBLE))) AS z
      |  FROM counts)
      |SELECT source, n_docs,
      |  round(sqrt(CAST(n_docs AS DOUBLE)) / z, 4) AS weight,
      |  round(sqrt(CAST(n_docs AS DOUBLE)) / z
      |    * CAST(total AS DOUBLE) / CAST(n_docs AS DOUBLE), 4) AS boost
      |FROM counts CROSS JOIN tot""".stripMargin

  // ------------------------------------------------------------------
  // q128: DSIR-style data selection (Xie et al. 2023, "Data Selection
  // for Language Models via Importance Resampling"): documents scored
  // by hashed-n-gram importance weights log p_target(f)/p_raw(f).
  // Features are word unigrams hashed into 64 buckets (two md5 hex
  // chars → ascii mix — portable to the SQL oracle, no engine-specific
  // hex parsing). The bucket log-ratio table is 64 rows — it BROADCASTS
  // onto the token stream and the corpus aggregates once per doc;
  // nothing else shuffles. Laplace-smoothed (+½ per bucket) so buckets
  // unseen in the target stay finite.
  // ------------------------------------------------------------------
  private val DsirTargetSources = Seq("src1", "src2", "src3")

  private def dsirBucket(tok: Column): Column =
    (ascii(substring(md5(tok), 1, 1)) * 31 + ascii(substring(md5(tok), 2, 1))) % 64

  def q128DsirWeights(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val toks = Tables.documents(spark, dir)
      .select(col("doc_id"), col("source"),
        explode(split(col("text"), " ")).as("t"))
      .filter(col("t") =!= "")
      .select(col("doc_id"), col("source"), dsirBucket(col("t")).as("b"))
    // ONE corpus pass tallies raw and target counts together (the
    // target tally is a conditional sum, not a second scan); totals are
    // window sums over the 64-row bucket frame, so nothing corpus-sized
    // is ever re-aggregated. Missing buckets contribute 0 to both.
    val bucketCounts = toks.groupBy(col("b")).agg(
      count(lit(1)).as("rc"),
      sum(when(col("source").isin(DsirTargetSources: _*), 1L).otherwise(0L))
        .as("tc"))
    val allB = spark.range(64).select(col("id").cast(IntegerType).as("b"))
    val w = Window.partitionBy()
    val lambda = allB
      .join(bucketCounts, Seq("b"), "left_outer")
      .select(col("b"),
        coalesce(col("rc"), lit(0L)).as("rc"),
        coalesce(col("tc"), lit(0L)).as("tc"))
      .withColumn("rt", sum(col("rc")).over(w))
      .withColumn("tt", sum(col("tc")).over(w))
      .select(col("b"),
        round(
          log2((col("tc").cast(DoubleType) + 0.5)
            / (col("tt").cast(DoubleType) + 32.0))
          - log2((col("rc").cast(DoubleType) + 0.5)
            / (col("rt").cast(DoubleType) + 32.0)), 6).as("lam"))
    toks.join(broadcast(lambda), "b")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_toks"),
        round(sum(col("lam")) / count(lit(1)), 4).as("dsir_score"))
  }

  val q128Sql: String =
    """WITH toks AS (
      |  SELECT doc_id, source,
      |    (ascii(substr(md5(t), 1, 1)) * 31 + ascii(substr(md5(t), 2, 1))) % 64 AS b
      |  FROM (SELECT doc_id, source, unnest(string_split(text, ' ')) AS t
      |        FROM documents) u WHERE t <> ''),
      |bc AS (
      |  SELECT b, COUNT(*) AS rc,
      |    CAST(SUM(CASE WHEN source IN ('src1', 'src2', 'src3')
      |      THEN 1 ELSE 0 END) AS BIGINT) AS tc
      |  FROM toks GROUP BY b),
      |filled AS (
      |  SELECT r.range AS b,
      |    CAST(COALESCE(rc, 0) AS BIGINT) AS rc,
      |    CAST(COALESCE(tc, 0) AS BIGINT) AS tc
      |  FROM range(64) r LEFT JOIN bc ON bc.b = r.range),
      |lambda AS (
      |  SELECT b,
      |    round(log2((CAST(tc AS DOUBLE) + 0.5)
      |        / (CAST(SUM(tc) OVER () AS DOUBLE) + 32.0))
      |      - log2((CAST(rc AS DOUBLE) + 0.5)
      |        / (CAST(SUM(rc) OVER () AS DOUBLE) + 32.0)), 6) AS lam
      |  FROM filled)
      |SELECT doc_id, COUNT(*) AS n_toks,
      |  round(SUM(lam) / COUNT(*), 4) AS dsir_score
      |FROM toks JOIN lambda USING (b)
      |GROUP BY doc_id""".stripMargin

  // ------------------------------------------------------------------
  // q129: per-domain document cap (RefinedWeb/Dolma-style: no single
  // domain may contribute more than K documents, keeping the longest
  // first). Top-K-per-group via a window — per-domain state is bounded
  // by the domain's own row count; at 100 TB the same budget runs as
  // a bounded-heap aggregate (TopKAggregate) keyed by domain. Output
  // is the per-domain audit: kept/dropped counts and character mass.
  // ------------------------------------------------------------------
  private val DomainCap = 10

  def q129DomainCap(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val ranked = Tables.documents(spark, dir)
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("source"))
          .orderBy(col("n_chars").desc, col("doc_id"))))
    ranked.groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("rn") <= DomainCap, 1L).otherwise(0L)).as("n_kept"),
        sum(when(col("rn") <= DomainCap, col("n_chars")).otherwise(0L))
          .as("kept_chars"),
        sum(when(col("rn") > DomainCap, col("n_chars")).otherwise(0L))
          .as("dropped_chars"))
  }

  val q129Sql: String =
    s"""WITH ranked AS (
      |  SELECT source, n_chars,
      |    row_number() OVER (PARTITION BY source
      |      ORDER BY n_chars DESC, doc_id) AS rn
      |  FROM documents)
      |SELECT source, COUNT(*) AS n_docs,
      |  CAST(SUM(CASE WHEN rn <= $DomainCap THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
      |  CAST(SUM(CASE WHEN rn <= $DomainCap THEN n_chars ELSE 0 END) AS BIGINT) AS kept_chars,
      |  CAST(SUM(CASE WHEN rn > $DomainCap THEN n_chars ELSE 0 END) AS BIGINT) AS dropped_chars
      |FROM ranked GROUP BY source""".stripMargin

  // ------------------------------------------------------------------
  // q130: population-stability-index drift between the first and second
  // half of the event stream, per event type — the ingestion-monitoring
  // check run before a new crawl snapshot joins the training mix. Bins
  // are 10 equal-width slices of the GLOBAL per-type [min, max] (one
  // tiny aggregate broadcast back); PSI_b = (p_b−q_b)·log2(p_b/q_b)
  // with Laplace-smoothed shares, addends rounded to 6 dp before the
  // 10-term sum (exact-addend parity), log2 variant of the classic ln
  // definition. Zero corpus-sized shuffles: one pass to bin+count,
  // then 100 rows of arithmetic.
  // ------------------------------------------------------------------
  def q130DriftPsi(spark: SparkSession, dir: String): DataFrame = {
    val cutoff = lit("2024-01-16").cast(TimestampType)
    val ev = Tables.events(spark, dir)
      .select(col("event_type"), col("value"),
        when(col("ts") < cutoff, lit("ref")).otherwise(lit("cur")).as("win"))
    val ranges = ev.groupBy(col("event_type"))
      .agg(min(col("value")).as("mn"), max(col("value")).as("mx"))
    val binned = ev.join(broadcast(ranges), "event_type")
      .select(col("event_type"), col("win"),
        least(floor((col("value") - col("mn")) * 10.0 / (col("mx") - col("mn")))
          .cast(IntegerType), lit(9)).as("b"))
    val counts = binned.groupBy(col("event_type"), col("b"))
      .agg(sum(when(col("win") === "ref", 1L).otherwise(0L)).as("cr"),
        sum(when(col("win") === "cur", 1L).otherwise(0L)).as("cc"))
    val allBins = counts.select(col("event_type")).distinct()
      .crossJoin(spark.range(10).select(col("id").cast(IntegerType).as("b")))
    val totals = counts.groupBy(col("event_type"))
      .agg(sum(col("cr")).as("tr"), sum(col("cc")).as("tc"))
    allBins
      .join(counts, Seq("event_type", "b"), "left_outer")
      .join(broadcast(totals), "event_type")
      .select(col("event_type"), col("tr"), col("tc"),
        ((coalesce(col("cr"), lit(0L)).cast(DoubleType) + 0.5)
          / (col("tr").cast(DoubleType) + 5.0)).as("p"),
        ((coalesce(col("cc"), lit(0L)).cast(DoubleType) + 0.5)
          / (col("tc").cast(DoubleType) + 5.0)).as("q"))
      .select(col("event_type"), col("tr"), col("tc"),
        round((col("p") - col("q")) * log2(col("p") / col("q")), 6).as("addend"))
      .groupBy(col("event_type"))
      .agg(max(col("tr")).as("n_ref"), max(col("tc")).as("n_cur"),
        round(sum(col("addend")), 4).as("psi"))
  }

  val q130Sql: String =
    """WITH ev AS (
      |  SELECT event_type, value,
      |    CASE WHEN ts < TIMESTAMP '2024-01-16' THEN 'ref' ELSE 'cur' END AS win
      |  FROM events),
      |ranges AS (
      |  SELECT event_type, MIN(value) AS mn, MAX(value) AS mx
      |  FROM ev GROUP BY event_type),
      |binned AS (
      |  SELECT ev.event_type, win,
      |    least(CAST(floor((value - mn) * 10.0 / (mx - mn)) AS INT), 9) AS b
      |  FROM ev JOIN ranges ON ev.event_type = ranges.event_type),
      |counts AS (
      |  SELECT event_type, b,
      |    SUM(CASE WHEN win = 'ref' THEN 1 ELSE 0 END) AS cr,
      |    SUM(CASE WHEN win = 'cur' THEN 1 ELSE 0 END) AS cc
      |  FROM binned GROUP BY event_type, b),
      |all_bins AS (
      |  SELECT DISTINCT event_type, r.range AS b
      |  FROM counts CROSS JOIN range(10) r),
      |totals AS (
      |  SELECT event_type, CAST(SUM(cr) AS BIGINT) AS tr,
      |    CAST(SUM(cc) AS BIGINT) AS tc
      |  FROM counts GROUP BY event_type),
      |shares AS (
      |  SELECT a.event_type, tr, tc,
      |    (CAST(COALESCE(cr, 0) AS DOUBLE) + 0.5) / (CAST(tr AS DOUBLE) + 5.0) AS p,
      |    (CAST(COALESCE(cc, 0) AS DOUBLE) + 0.5) / (CAST(tc AS DOUBLE) + 5.0) AS q
      |  FROM all_bins a
      |  LEFT JOIN counts c ON a.event_type = c.event_type AND a.b = c.b
      |  JOIN totals t ON a.event_type = t.event_type)
      |SELECT event_type, MAX(tr) AS n_ref, MAX(tc) AS n_cur,
      |  round(SUM(round((p - q) * log2(p / q), 6)), 4) AS psi
      |FROM shares GROUP BY event_type""".stripMargin

  // ------------------------------------------------------------------
  // q131: Zipf rank-frequency slope per source — the power-law sanity
  // check on a corpus's token distribution (natural text ≈ −1; a slope
  // near 0 flags templated/synthetic content, steep flags boilerplate).
  // One token tally (the only corpus-sized shuffle); the top-100 rank
  // head comes out of a bounded per-source heap (TopKTermAggregate,
  // map-side combined — a rank window would sort the whole per-source
  // vocabulary on one reducer to keep 100 rows); least-squares slope
  // via regr_slope on log-log points (log2 values rounded to 6 dp →
  // identical regression inputs in both engines).
  // ------------------------------------------------------------------
  def q131ZipfSlope(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.TopKTermAggregate.topKTerm
    val freq = Tables.documents(spark, dir)
      .select(col("source"), explode(split(col("text"), " ")).as("t"))
      .filter(col("t") =!= "")
      .groupBy(col("source"), col("t")).agg(count(lit(1)).as("cnt"))
    freq
      .groupBy(col("source"))
      .agg(topKTerm(col("cnt"), col("t"), 100).as("head"))
      .select(col("source"), posexplode(col("head")).as(Seq("pos", "e")))
      .withColumn("rnk", (col("pos") + 1).cast(IntegerType))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_ranks"),
        round(regr_slope(
          round(log2(col("e.c").cast(DoubleType)), 6),
          round(log2(col("rnk").cast(DoubleType)), 6)), 4).as("zipf_slope"))
  }

  val q131Sql: String =
    """WITH toks AS (
      |  SELECT source, unnest(string_split(text, ' ')) AS t FROM documents),
      |freq AS (
      |  SELECT source, t, COUNT(*) AS cnt FROM toks WHERE t <> ''
      |  GROUP BY source, t),
      |ranked AS (
      |  SELECT source, cnt,
      |    row_number() OVER (PARTITION BY source ORDER BY cnt DESC, t) AS rnk
      |  FROM freq)
      |SELECT source, COUNT(*) AS n_ranks,
      |  round(regr_slope(round(log2(CAST(cnt AS DOUBLE)), 6),
      |    round(log2(CAST(rnk AS DOUBLE)), 6)), 4) AS zipf_slope
      |FROM ranked WHERE rnk <= 100
      |GROUP BY source""".stripMargin

  // ------------------------------------------------------------------
  // q132: embedding-dimension correlation audit — the top-10 most
  // correlated dimension pairs, from a SINGLE-PASS Gram-matrix
  // aggregate (GramAggregate: the corpus never shuffles; each partition
  // folds its vectors into one d(d+1)/2+d+1 buffer and only ~32 partial
  // buffers merge). The relational dual (posexplode² + self-join)
  // shuffles n·d² rows — that is the oracle's formulation, fine at
  // sf0.01, fatal at 100 TB. Pair arithmetic happens on a 2 016-row
  // local frame joined to the ONE-row gram result. float32 inputs make
  // every promoted product exact; ordering sorts the ROUNDED corr with
  // an (i, j) tiebreak so final-ulp summation drift cannot reorder.
  // ------------------------------------------------------------------
  private val EmbDim = 64

  def q132EmbedCorr(spark: SparkSession, dir: String): DataFrame = {
    val d = EmbDim
    val triLen = d * (d + 1) / 2
    val g = Tables.embeddings(spark, dir)
      .agg(GramAggregate.gram(col("embedding"), d).as("g"))
    val pairs = spark.range(d).select(col("id").cast(IntegerType).as("i"))
      .crossJoin(spark.range(d).select(col("id").cast(IntegerType).as("j")))
      .filter(col("i") < col("j"))
    def tri(i: Column, j: Column): Column = // 1-based index of Σ x_i·x_j
      i * d - (i * (i - lit(1))).cast(LongType) / 2 + (j - i) + 1
    def sx(i: Column): Column = element_at(col("g"), (lit(triLen) + i + 1).cast(IntegerType))
    val n = element_at(col("g"), triLen + d + 1)
    def cov(i: Column, j: Column): Column =
      (element_at(col("g"), tri(i, j).cast(IntegerType)) - sx(i) * sx(j) / n) / n
    pairs.crossJoin(broadcast(g))
      .select(col("i"), col("j"),
        round(cov(col("i"), col("j"))
          / sqrt(cov(col("i"), col("i")) * cov(col("j"), col("j"))), 4)
          .as("corr"))
      .orderBy(col("corr").desc, col("i"), col("j"))
      .limit(10)
  }

  val q132Sql: String =
    """WITH e AS (
      |  SELECT vec_id, CAST(unnest(embedding) AS DOUBLE) AS x,
      |    unnest(range(0, len(embedding))) AS i
      |  FROM embeddings),
      |sums AS (
      |  SELECT a.i AS i, b.i AS j, SUM(a.x * b.x) AS sxy,
      |    COUNT(*) AS n
      |  FROM e a JOIN e b ON a.vec_id = b.vec_id AND a.i <= b.i
      |  GROUP BY a.i, b.i),
      |marg AS (SELECT i, SUM(x) AS sx FROM e GROUP BY i),
      |cov AS (
      |  SELECT s.i, s.j,
      |    (sxy - ma.sx * mb.sx / n) / n AS c
      |  FROM sums s JOIN marg ma ON s.i = ma.i JOIN marg mb ON s.j = mb.i),
      |corr AS (
      |  SELECT CAST(o.i AS INT) AS i, CAST(o.j AS INT) AS j,
      |    round(o.c / sqrt(di.c * dj.c), 4) AS corr
      |  FROM cov o
      |  JOIN cov di ON di.i = o.i AND di.j = o.i
      |  JOIN cov dj ON dj.i = o.j AND dj.j = o.j
      |  WHERE o.i < o.j)
      |SELECT i, j, corr FROM corr
      |ORDER BY corr DESC, i, j LIMIT 10""".stripMargin

  // ------------------------------------------------------------------
  // q133: BPE pair statistics (iteration 0 of tokenizer training,
  // Sennrich 2016): adjacent character-pair counts weighted by word
  // frequency. The corpus collapses to its word vocabulary FIRST (one
  // map-side-combined shuffle); pair extraction then runs on the
  // vocabulary — at web scale that is millions of rows, not billions,
  // which is why production BPE trainers all pre-tally words. Top-20
  // by (count DESC, pair ASC) — integer-deterministic.
  // ------------------------------------------------------------------
  def q133CharPairs(spark: SparkSession, dir: String): DataFrame = {
    val words = Tables.documents(spark, dir)
      .select(explode(split(col("text"), " ")).as("w"))
      .filter(col("w") =!= "")
      .groupBy(col("w")).agg(count(lit(1)).as("cnt"))
      .filter(length(col("w")) >= 2)
    words
      .select(explode(expr(
        "transform(sequence(1, length(w) - 1), i -> substring(w, i, 2))"))
        .as("pair"), col("cnt"))
      .groupBy(col("pair")).agg(sum(col("cnt")).as("pair_cnt"))
      .orderBy(col("pair_cnt").desc, col("pair"))
      .limit(20)
  }

  val q133Sql: String =
    """WITH words AS (
      |  SELECT w, COUNT(*) AS cnt
      |  FROM (SELECT unnest(string_split(text, ' ')) AS w FROM documents) u
      |  WHERE w <> '' GROUP BY w),
      |pairs AS (
      |  SELECT unnest(list_transform(range(1, len(w)),
      |    i -> substr(w, CAST(i AS INT), 2))) AS pair, cnt
      |  FROM words WHERE len(w) >= 2)
      |SELECT pair, CAST(SUM(cnt) AS BIGINT) AS pair_cnt
      |FROM pairs GROUP BY pair
      |ORDER BY pair_cnt DESC, pair LIMIT 20""".stripMargin

  // ------------------------------------------------------------------
  // q134: benchmark decontamination via cross-set MinHash-LSH — the
  // "did the eval set leak into training" sweep (Brown et al. 2020
  // App. C; Dodge et al. 2021). The benchmark side is TINY (eval sets
  // are thousands of rows), so its signature index broadcasts and the
  // training corpus streams through band-key probing WITHOUT ever
  // shuffling — the same plan as q66's incremental probe with the
  // roles flipped (index the small side, scan the big side). Exact
  // Jaccard (integer intersect / union → one division) verifies each
  // candidate. Benchmark membership here: doc_id ≡ 0 (mod 7);
  // threshold 0.35 (q31's), the loose end of published n-gram-overlap
  // decontamination rules.
  // ------------------------------------------------------------------
  def q134Decontaminate(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    // Exact-duplicate collapse on BOTH sides first (the suite-wide
    // duplicate-blowup guard): band-bucket candidate pairs are a cross
    // product of bucket membership, so a corpus with duplication factor
    // d costs d² more per collision raw (the 10× replica measured 7.6×
    // wall uncollapsed, ~1× collapsed). The collapse is one map-side-
    // combinable groupBy per side; band keys and Jaccard depend only on
    // text, so probing representatives and re-expanding verified class
    // pairs to member cross products is byte-identical to the
    // uncollapsed formulation the oracle computes.
    def classes(df: DataFrame) = df.groupBy(col("text"))
      .agg(min(col("doc_id")).as("doc_id"),
        collect_list(col("doc_id")).as("members"))
      .localCheckpoint() // read by the probe AND the member expansion
    val bench = classes(docs.filter(col("doc_id") % 7 === 0))
    val train = classes(docs.filter(col("doc_id") % 7 =!= 0))
    val index = Dedup.signatureIndex(bench.select(col("doc_id"), col("text")),
      "doc_id", "text")
    val classPairs = Dedup.probeNearDups(
      train.select(col("doc_id"), col("text")), index,
      "doc_id", "text", threshold = 0.35)
    classPairs
      .join(train.select(col("doc_id").as("new_id"), col("members").as("tm")),
        "new_id")
      .join(bench.select(col("doc_id").as("corpus_id"), col("members").as("bm")),
        "corpus_id")
      .select(explode(col("tm")).as("train_id"), col("bm"), col("jaccard"))
      .select(col("train_id"), explode(col("bm")).as("bench_id"), col("jaccard"))
  }

  val q134Sql: String =
    s"""WITH toks AS (
      |  SELECT doc_id, string_split(text, ' ') AS t FROM documents),
      |sh AS (
      |  SELECT doc_id,
      |    list_transform(range(1, greatest(len(t) - 2, 0) + 1),
      |      i -> concat_ws(' ', t[i], t[i+1], t[i+2])) AS shingles
      |  FROM toks),
      |hashed AS (
      |  SELECT doc_id, shingles FROM sh WHERE len(shingles) > 0),
      |${MinhashSql.sigCtes("hashed", "doc_id")}
      |banded AS (
      |  SELECT doc_id, shingles, unnest(list_transform(range(0, 3),
      |    b -> md5(concat_ws('|', sig[b*3+1], sig[b*3+2], sig[b*3+3], CAST(b AS VARCHAR))))) AS band_key
      |  FROM sig),
      |cand AS (
      |  SELECT DISTINCT a.doc_id AS train_id, b.doc_id AS bench_id,
      |    a.shingles AS sh_a, b.shingles AS sh_b
      |  FROM banded a JOIN banded b
      |    ON a.band_key = b.band_key
      |   AND a.doc_id % 7 <> 0 AND b.doc_id % 7 = 0)
      |SELECT train_id, bench_id,
      |  CAST(len(list_distinct(list_intersect(sh_a, sh_b))) AS DOUBLE)
      |    / CAST(len(list_distinct(sh_a || sh_b)) AS DOUBLE) AS jaccard
      |FROM cand
      |WHERE CAST(len(list_distinct(list_intersect(sh_a, sh_b))) AS DOUBLE)
      |    / CAST(len(list_distinct(sh_a || sh_b)) AS DOUBLE) >= 0.35""".stripMargin

  // ------------------------------------------------------------------
  // q135: learned BPE merge table (k = 5 iterations) — the driver-loop
  // tokenizer-training surface over Bpe.learnMerges. The oracle is a
  // TRAJECTORY REPLAY (q150's nested-CTE template): each merge step is
  // one CTE block, and the greedy left-to-right non-overlapping symbol
  // rewrite is expressed as a plain string `replace` over a wrapped
  // representation — every symbol rendered as \x01·sym·\x02, so the
  // pattern \x01l\x02\x01r\x02 can only match FULL adjacent symbols,
  // and replace's scan-forward-after-each-hit semantics IS the
  // canonical BPE rewrite (restart after merge, non-overlapping).
  // BpeSpec additionally pins the operator to a sequential reference.
  // ------------------------------------------------------------------
  def q135BpeMerges(spark: SparkSession, dir: String): DataFrame =
    Bpe.learnMerges(Tables.documents(spark, dir), "text", 5)

  /** \x01·sym·\x02 wrapping of a word's characters (oracle-side symbol
    * array encoding shared by the q135/q143 trajectory CTEs). */
  private def bpeWrap(col: String): String =
    s"list_aggregate(list_transform(string_split($col,''), c -> chr(1)||c||chr(2)), 'string_agg', '')"

  /** The k-step merge trajectory: words → v0 (wrapped) → per step r a
    * pair-count block (symsR/pcR), the argmax mR, and the rewrite vR+1.
    * MATERIALIZED on `words` keeps DuckDB from re-inlining the corpus
    * scan into every downstream block. */
  private def bpeTrajectoryCtes(k: Int): Seq[String] = {
    val head = Seq(
      "words AS MATERIALIZED (SELECT w, CAST(COUNT(*) AS BIGINT) AS cnt FROM " +
        "(SELECT unnest(string_split(text, ' ')) AS w FROM documents) WHERE w <> '' GROUP BY w)",
      s"v0 AS (SELECT ${bpeWrap("w")} AS s, cnt FROM words)")
    val steps = (0 until k).flatMap { r =>
      val rewrite =
        if (r < k - 1) Seq(
          s"v${r + 1} AS (SELECT replace(v.s, chr(1)||m.l||chr(2)||chr(1)||m.r||chr(2), " +
            s"chr(1)||m.l||m.r||chr(2)) AS s, v.cnt FROM v$r v CROSS JOIN m$r m)")
        else Seq.empty
      Seq(
        s"syms$r AS (SELECT string_split(s[2:len(s)-1], chr(2)||chr(1)) AS l, cnt FROM v$r)",
        s"pc$r AS (SELECT p[1] AS l, p[2] AS r, CAST(SUM(cnt) AS BIGINT) AS pair_cnt FROM " +
          s"(SELECT unnest(list_zip(l[1:len(l)-1], l[2:len(l)])) AS p, cnt FROM syms$r WHERE len(l) >= 2) GROUP BY 1, 2)",
        s"m$r AS (SELECT l, r, pair_cnt FROM pc$r ORDER BY pair_cnt DESC, l, r LIMIT 1)") ++ rewrite
    }
    head ++ steps
  }

  val q135Sql: String = {
    val k = 5
    val sels = (0 until k).map(r =>
      s"""SELECT ${r + 1} AS step, l AS "left", r AS "right", l||r AS merged, pair_cnt FROM m$r""")
    "WITH " + bpeTrajectoryCtes(k).mkString(",\n") + "\n" + sels.mkString("\nUNION ALL ")
  }

  // ------------------------------------------------------------------
  // q155: unigram-LM tokenizer (Kudo 2018 / SentencePiece), hard-EM —
  // the OTHER tokenizer-learning family next to BPE (q135): seed an
  // over-complete substring vocabulary, Viterbi-segment the word
  // vocabulary, re-estimate piece probabilities, let unused pieces
  // drop out. Driver loop like q135/q138: per iteration one
  // vocabulary-sized flatMap + a piece-table-sized tally. The oracle
  // replays the trajectory: the per-word Viterbi DP is a RECURSIVE CTE
  // that advances one character per step carrying a 4-wide sliding
  // window of best scores (b0..b3) and their piece lists (l0..l3) —
  // best(j) = max over piece lengths 1..4, ties keeping the LONGEST
  // piece (the operator's i-ascending strictly-greater rule). Two EM
  // rounds = two recursions, each against that round's MATERIALIZED
  // logp table (materialization stops DuckDB re-inlining the corpus
  // scan into every recursive join). UnigramSpec additionally pins
  // seeding, Viterbi, and EM counts to a sequential reference.
  // ------------------------------------------------------------------
  def q155UnigramPieces(spark: SparkSession, dir: String): DataFrame =
    graft.operators.Unigram.learn(Tables.documents(spark, dir), "text",
      seedSize = 60, iters = 2, topK = 20)

  val q155Sql: String = {
    val (seedSize, iters, topK, maxLen) = (60, 2, 20, 4)
    val ctes = scala.collection.mutable.ArrayBuffer(
      "words AS MATERIALIZED (SELECT w, CAST(COUNT(*) AS BIGINT) AS cnt FROM " +
        "(SELECT unnest(string_split(text, ' ')) AS w FROM documents) WHERE w <> '' GROUP BY w)",
      // every substring of length 1..maxLen, weighted by word count
      s"subs AS (SELECT p, CAST(SUM(cnt) AS BIGINT) AS c FROM (SELECT unnest(flatten(list_transform(range(0, length(w)), " +
        s"i -> list_transform(range(1, 1 + least($maxLen, length(w) - i)), l -> substr(w, CAST(i+1 AS INT), CAST(l AS INT)))))) AS p, cnt FROM words) GROUP BY p)",
      s"topseed AS (SELECT p, c FROM subs ORDER BY c DESC, p LIMIT $seedSize)",
      "chars AS (SELECT p, c FROM subs WHERE length(p) = 1)",
      // NOT-EXISTS dedup, not UNION: DuckDB's UNION-dedup inside a
      // WITH RECURSIVE clause list can leave duplicate rows behind
      "pieces0 AS (SELECT p, c FROM topseed UNION ALL " +
        "SELECT ch.p, ch.c FROM chars ch WHERE NOT EXISTS (SELECT 1 FROM topseed t WHERE t.p = ch.p))")
    for (it <- 0 until iters) {
      val (pt, lp) = (s"pieces$it", s"logp$it")
      ctes += s"$lp AS MATERIALIZED (SELECT p, round(ln(CAST(c AS DOUBLE) / (SELECT CAST(SUM(c) AS DOUBLE) FROM $pt)), 6) AS lp FROM $pt)"
      ctes += s"""vit$it AS (
  SELECT w, cnt, 0 AS j,
         CAST(0.0 AS DOUBLE) AS b0, CAST(-1e18 AS DOUBLE) AS b1, CAST(-1e18 AS DOUBLE) AS b2, CAST(-1e18 AS DOUBLE) AS b3,
         CAST([] AS VARCHAR[]) AS l0, CAST([] AS VARCHAR[]) AS l1, CAST([] AS VARCHAR[]) AS l2, CAST([] AS VARCHAR[]) AS l3
  FROM words
  UNION ALL
  SELECT w, cnt, j + 1,
    CASE WHEN s4 IS NOT NULL AND s4 >= greatest(coalesce(s1,-2e18), coalesce(s2,-2e18), coalesce(s3,-2e18)) THEN s4
         WHEN s3 IS NOT NULL AND s3 >= greatest(coalesce(s1,-2e18), coalesce(s2,-2e18)) THEN s3
         WHEN s2 IS NOT NULL AND s2 >= coalesce(s1,-2e18) THEN s2 ELSE s1 END,
    b0, b1, b2,
    CASE WHEN s4 IS NOT NULL AND s4 >= greatest(coalesce(s1,-2e18), coalesce(s2,-2e18), coalesce(s3,-2e18)) THEN list_append(l3, substr(w, j - 2, 4))
         WHEN s3 IS NOT NULL AND s3 >= greatest(coalesce(s1,-2e18), coalesce(s2,-2e18)) THEN list_append(l2, substr(w, j - 1, 3))
         WHEN s2 IS NOT NULL AND s2 >= coalesce(s1,-2e18) THEN list_append(l1, substr(w, j, 2))
         ELSE list_append(l0, substr(w, j + 1, 1)) END,
    l0, l1, l2
  FROM (
    SELECT v.w, v.cnt, v.j, v.b0, v.b1, v.b2, v.b3, v.l0, v.l1, v.l2, v.l3,
      v.b0 + p1.lp AS s1,
      CASE WHEN v.j >= 1 THEN v.b1 + p2.lp END AS s2,
      CASE WHEN v.j >= 2 THEN v.b2 + p3.lp END AS s3,
      CASE WHEN v.j >= 3 THEN v.b3 + p4.lp END AS s4
    FROM vit$it v
    LEFT JOIN $lp p1 ON p1.p = substr(v.w, v.j + 1, 1)
    LEFT JOIN $lp p2 ON v.j >= 1 AND p2.p = substr(v.w, v.j, 2)
    LEFT JOIN $lp p3 ON v.j >= 2 AND p3.p = substr(v.w, v.j - 1, 3)
    LEFT JOIN $lp p4 ON v.j >= 3 AND p4.p = substr(v.w, v.j - 2, 4)
    WHERE v.j < length(v.w)
  )
)"""
      ctes += s"seg$it AS (SELECT w, cnt, l0 AS segs FROM vit$it WHERE j = length(w))"
      ctes += s"cnts$it AS (SELECT p, CAST(SUM(cnt) AS BIGINT) AS c FROM (SELECT unnest(segs) AS p, cnt FROM seg$it) GROUP BY p)"
      ctes += s"pieces${it + 1} AS (SELECT p, c FROM cnts$it UNION ALL " +
        s"SELECT ch.p, 1 AS c FROM chars ch WHERE NOT EXISTS (SELECT 1 FROM cnts$it cc WHERE cc.p = ch.p))"
    }
    val fin = s"pieces$iters"
    "WITH RECURSIVE " + ctes.mkString(",\n") + "\n" +
      s"SELECT CAST(row_number() OVER (ORDER BY c DESC, p) AS BIGINT) AS rank, p AS piece, c AS piece_cnt, " +
      s"round(CAST(c AS DOUBLE) / (SELECT CAST(SUM(c) AS DOUBLE) FROM $fin), 4) AS prob " +
      s"FROM $fin ORDER BY c DESC, p LIMIT $topK"
  }

  // ------------------------------------------------------------------
  // q138: k-center greedy coreset over the embedding table — diverse
  // representative subset selection (Sener & Savarese 2018). Driver
  // loop like q135: k rounds, one corpus scan + one collected argmax
  // row each. The oracle replays the greedy sequence as a chain of
  // argmax/update CTE pairs; the squared-distance sum runs in array
  // index order in both engines (Spark's `aggregate` fold = DuckDB's
  // list_sum over list_transform), so float64 rounding is identical.
  // CoresetSpec additionally pins the sequence to a sequential
  // reference.
  // ------------------------------------------------------------------
  def q138Coreset(spark: SparkSession, dir: String): DataFrame =
    graft.operators.Coreset.kCenterGreedy(
      Tables.embeddings(spark, dir), "vec_id", "embedding", k = 8, seedId = 0L)

  val q138Sql: String = {
    val (k, seed) = (8, 0L)
    def dist2(a: String, b: String): String =
      s"list_sum(list_transform(range(1, len($a)+1), " +
        s"i -> (CAST($a[i] AS DOUBLE) - CAST($b[i] AS DOUBLE)) " +
        s"* (CAST($a[i] AS DOUBLE) - CAST($b[i] AS DOUBLE))))"
    val ctes = scala.collection.mutable.ArrayBuffer(
      "emb AS (SELECT CAST(vec_id AS BIGINT) AS id, embedding AS v FROM embeddings)",
      s"seed AS (SELECT v FROM emb WHERE id = $seed)",
      s"s1 AS (SELECT e.id, e.v, ${dist2("e.v", "s.v")} AS mind " +
        s"FROM emb e CROSS JOIN seed s WHERE e.id <> $seed)")
    val sels = scala.collection.mutable.ArrayBuffer(
      s"SELECT 1 AS round, CAST($seed AS BIGINT) AS center_id, 0.0 AS sel_dist2")
    for (r <- 2 to k) {
      ctes += s"c$r AS (SELECT id, v, mind FROM s${r - 1} ORDER BY mind DESC, id LIMIT 1)"
      ctes += s"s$r AS (SELECT s.id, s.v, least(s.mind, ${dist2("s.v", "c.v")}) AS mind " +
        s"FROM s${r - 1} s CROSS JOIN c$r c WHERE s.id <> c.id)"
      sels += s"SELECT $r AS round, id AS center_id, round(mind, 4) AS sel_dist2 FROM c$r"
    }
    "WITH " + ctes.mkString(",\n") + "\n" + sels.mkString("\nUNION ALL ")
  }

  // ------------------------------------------------------------------
  // q143: tokenizer fertility audit — tokens-per-character by language
  // under the corpus's OWN learned BPE (the "what will this corpus cost
  // in tokens" estimator; fertility disparity across languages is the
  // standard multilingual-tokenizer equity metric). Composition: q135's
  // merge learning (k collected argmax rows) feeds `Bpe.encode`'s
  // zero-shuffle per-row application; the tally is one lang-keyed agg.
  // Integer basis points — no float parity surface. The oracle chains
  // q135's 8-step trajectory into an encode pass: each learned merge
  // is one `replace` over the wrapped representation of every UNIQUE
  // word (applied in learned order = Bpe.encode's greedy rewrite), and
  // the token count is the number of \x01 symbol markers left.
  // ------------------------------------------------------------------
  def q143TokenFertility(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val merges = Bpe.learnMerges(docs, "text", 8)
      .orderBy(col("step")).collect()
      .map(r => (r.getString(1), r.getString(2))).toSeq
    docs.select(col("doc_id"), col("lang"), col("n_chars"))
      .join(Bpe.encode(docs, "doc_id", "text", merges), "doc_id")
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_tokens")).as("n_tokens"),
        sum(col("n_chars")).as("n_chars"))
      .withColumn("fert_bp", expr("n_tokens * 10000 div n_chars"))
  }

  val q143Sql: String = {
    val k = 8
    val ctes = scala.collection.mutable.ArrayBuffer(bpeTrajectoryCtes(k): _*)
    ctes += "dw AS (SELECT doc_id, w FROM (SELECT doc_id, unnest(string_split(text,' ')) AS w FROM documents) WHERE w <> '')"
    ctes += s"enc0 AS (SELECT w, ${bpeWrap("w")} AS s FROM (SELECT DISTINCT w FROM dw))"
    for (r <- 0 until k)
      ctes += s"enc${r + 1} AS (SELECT e.w, replace(e.s, chr(1)||m.l||chr(2)||chr(1)||m.r||chr(2), " +
        s"chr(1)||m.l||m.r||chr(2)) AS s FROM enc$r e CROSS JOIN m$r m)"
    ctes += s"tok AS (SELECT w, CAST(len(s) - len(replace(s, chr(1), '')) AS BIGINT) AS t FROM enc$k)"
    ctes += "dt AS (SELECT doc_id, CAST(SUM(t) AS BIGINT) AS n_tokens FROM dw JOIN tok USING (w) GROUP BY doc_id)"
    "WITH " + ctes.mkString(",\n") + "\n" +
      "SELECT d.lang, CAST(COUNT(*) AS BIGINT) AS n_docs, " +
      "CAST(SUM(coalesce(dt.n_tokens, 0)) AS BIGINT) AS n_tokens, " +
      "CAST(SUM(d.n_chars) AS BIGINT) AS n_chars, " +
      "CAST(SUM(coalesce(dt.n_tokens, 0)) * 10000 // SUM(d.n_chars) AS BIGINT) AS fert_bp " +
      "FROM documents d LEFT JOIN dt ON d.doc_id = dt.doc_id GROUP BY d.lang"
  }

  // ------------------------------------------------------------------
  // q136: quality-stratified epoch schedule — the "repeat good data,
  // prune bad data" curriculum rule (quality-quantile repetition:
  // high-quality quartiles see more epochs, the bottom quartile is
  // pruned; cf. the multi-epoch scaling analyses of Muennighoff 2023).
  // Quartiles come from ntile(4) over (n_chars DESC, doc_id) per
  // source — an integer-ordered window with a total tiebreak, so the
  // cut is deterministic in both engines; everything downstream is
  // integer arithmetic. One corpus-sized window, one audit tally.
  // ------------------------------------------------------------------
  private val QuartileEpochs = Map(1 -> 4L, 2 -> 2L, 3 -> 1L, 4 -> 0L)

  def q136EpochSchedule(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val epochs = QuartileEpochs.foldLeft(lit(0L)) { case (acc, (q, e)) =>
      when(col("quartile") === q, lit(e)).otherwise(acc)
    }
    Tables.documents(spark, dir)
      .withColumn("quartile", ntile(4).over(
        Window.partitionBy(col("source"))
          .orderBy(col("n_chars").desc, col("doc_id")))
        .cast(LongType)) // DuckDB ntile returns BIGINT; match dtype class
      .withColumn("epochs", epochs)
      .groupBy(col("source"), col("quartile"))
      .agg(count(lit(1)).as("n_docs"),
        max(col("epochs")).as("epochs"),
        sum(col("n_chars")).as("total_chars"),
        sum(col("n_chars") * col("epochs")).as("effective_chars"))
  }

  // ------------------------------------------------------------------
  // q137: pretraining-assembly CAPSTONE — the end-to-end budget a data
  // team actually signs off on: exact-dedup the training split, drop
  // anything that near-matches the benchmark set (q134's cross-set
  // LSH), stratify survivors into the quality curriculum (q136's
  // quartile epochs), and emit the per-source effective-character
  // budget with its temperature mixture weight (q127's α=½ rule).
  // Composition shape: every stage reuses an already-audited operator
  // plan; the only new work is dimension-sized bookkeeping joins.
  // Dedup classes carry their copy counts so the audit reports how
  // much each source shrank; contamination drops whole content
  // classes (a contaminated text is contaminated in every copy).
  // ------------------------------------------------------------------
  def q137AssemblyPipeline(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val docs = Tables.documents(spark, dir)
    val train = docs.filter(col("doc_id") % 7 =!= 0)
    // exact dedup: one representative (min id) per distinct text, with
    // the class copy count; source/n_chars ride the representative row.
    val keepIds = train.groupBy(col("text"))
      .agg(min(col("doc_id")).as("doc_id"), count(lit(1)).as("copies"))
    val kept = keepIds.join(docs.select(col("doc_id"), col("source"),
      col("n_chars")), "doc_id")
      .localCheckpoint() // read by the audit tally AND the curriculum branch
    // contamination: any kept representative whose class near-matches a
    // benchmark doc (q134's verified pairs include every train copy, so
    // semi-joining representatives is exact).
    val contamIds = q134Decontaminate(spark, dir)
      .select(col("train_id").as("doc_id")).distinct()
    val clean = kept.join(contamIds, Seq("doc_id"), "left_anti")
    // quality curriculum on the CLEAN classes; epochs as in q136
    val epochs = QuartileEpochs.foldLeft(lit(0L)) { case (acc, (q, e)) =>
      when(col("quartile") === q, lit(e)).otherwise(acc)
    }
    val sched = clean
      .withColumn("quartile", ntile(4).over(
        Window.partitionBy(col("source"))
          .orderBy(col("n_chars").desc, col("doc_id"))).cast(LongType))
      .withColumn("epochs", epochs)
    val perSource = kept
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_classes"),
        sum(col("copies") - 1).as("n_dup_dropped"))
      .join(sched.groupBy(col("source"))
        .agg(count(lit(1)).as("n_clean"),
          sum(col("n_chars") * col("epochs")).as("effective_chars")),
        Seq("source"), "left_outer")
      .select(col("source"), col("n_classes"),
        col("n_dup_dropped"),
        coalesce(col("n_clean"), lit(0L)).as("n_clean"),
        (col("n_classes") - coalesce(col("n_clean"), lit(0L))).as("n_contam"),
        coalesce(col("effective_chars"), lit(0L)).as("effective_chars"))
    val z = perSource.agg(
      sum(sqrt(col("effective_chars").cast(DoubleType))).as("z"))
    perSource.crossJoin(broadcast(z))
      .select(col("source"), col("n_classes"), col("n_dup_dropped"),
        col("n_clean"), col("n_contam"), col("effective_chars"),
        // z = 0 iff every source's effective budget is 0 (a fully
        // contaminated corpus — the 10× replica hits this: each text
        // class gains members on BOTH sides of the mod-7 split); the
        // degenerate mixture is all-zero, not a divide-by-zero
        when(col("z") > 0,
          round(sqrt(col("effective_chars").cast(DoubleType)) / col("z"), 4))
          .otherwise(lit(0.0)).as("weight"))
  }

  val q137Sql: String = {
    // contamination CTE chain = q134's oracle verbatim (uncollapsed
    // dual), reused up to its verified-pairs SELECT
    val contamChain = q134Sql
      .replaceFirst("(?s)SELECT train_id.*$", "")
      .trim.stripSuffix(",")
    s"""$contamChain,
      |contam AS (
      |  SELECT DISTINCT train_id AS doc_id FROM cand
      |  WHERE CAST(len(list_distinct(list_intersect(sh_a, sh_b))) AS DOUBLE)
      |      / CAST(len(list_distinct(sh_a || sh_b)) AS DOUBLE) >= 0.35),
      |keep AS (
      |  SELECT text, MIN(doc_id) AS doc_id, COUNT(*) AS copies
      |  FROM documents WHERE doc_id % 7 <> 0 GROUP BY text),
      |kept AS (
      |  SELECT k.doc_id, k.copies, d.source, d.n_chars
      |  FROM keep k JOIN documents d USING (doc_id)),
      |clean AS (
      |  SELECT * FROM kept WHERE doc_id NOT IN (SELECT doc_id FROM contam)),
      |sched AS (
      |  SELECT source, n_chars, doc_id,
      |    CASE ntile(4) OVER (PARTITION BY source
      |        ORDER BY n_chars DESC, doc_id)
      |      WHEN 1 THEN 4 WHEN 2 THEN 2 WHEN 3 THEN 1 ELSE 0 END AS epochs
      |  FROM clean),
      |per_source AS (
      |  SELECT k.source,
      |    CAST(COUNT(*) AS BIGINT) AS n_classes,
      |    CAST(SUM(copies - 1) AS BIGINT) AS n_dup_dropped,
      |    (SELECT CAST(COUNT(*) AS BIGINT) FROM clean c
      |      WHERE c.source = k.source) AS n_clean,
      |    (SELECT CAST(COALESCE(SUM(n_chars * epochs), 0) AS BIGINT)
      |      FROM sched s WHERE s.source = k.source) AS effective_chars
      |  FROM kept k GROUP BY k.source)
      |SELECT source, n_classes, n_dup_dropped, n_clean,
      |  n_classes - n_clean AS n_contam, effective_chars,
      |  CASE WHEN (SELECT SUM(sqrt(CAST(effective_chars AS DOUBLE)))
      |             FROM per_source) > 0
      |    THEN round(sqrt(CAST(effective_chars AS DOUBLE))
      |      / (SELECT SUM(sqrt(CAST(effective_chars AS DOUBLE)))
      |         FROM per_source), 4)
      |    ELSE 0.0 END AS weight
      |FROM per_source""".stripMargin
  }

  val q136Sql: String =
    """WITH ranked AS (
      |  SELECT source, doc_id, n_chars,
      |    ntile(4) OVER (PARTITION BY source
      |      ORDER BY n_chars DESC, doc_id) AS quartile
      |  FROM documents),
      |sched AS (
      |  SELECT source, quartile, n_chars,
      |    CASE quartile WHEN 1 THEN 4 WHEN 2 THEN 2 WHEN 3 THEN 1
      |      ELSE 0 END AS epochs
      |  FROM ranked)
      |SELECT source, quartile, COUNT(*) AS n_docs,
      |  CAST(MAX(epochs) AS BIGINT) AS epochs,
      |  CAST(SUM(n_chars) AS BIGINT) AS total_chars,
      |  CAST(SUM(n_chars * epochs) AS BIGINT) AS effective_chars
      |FROM sched GROUP BY source, quartile""".stripMargin

  // ------------------------------------------------------------------
  // q209: importance-weight health diagnostics — the effective sample
  // size (Kong 1992: ESS = (Σw)²/Σw²) and max-weight share every
  // weighted-mixture sampler (q104/q128/q141/q142) should be audited
  // by before training: a source whose ESS/n collapses or whose top
  // document carries a large share of the total weight is being
  // sampled as if it were a handful of documents. Weights are the
  // size-proportional sampler's (w = n_chars); all three ratios are
  // exact integer arithmetic — DECIMAL(38,0) squares (Σw² overflows
  // int64 at corpus scale) and one truncating micro division each.
  //
  // Scale shape: ONE corpus pass, ONE map-side-combined per-source
  // aggregation; nothing else touches the data.
  // ------------------------------------------------------------------
  def q209EssDiagnostics(spark: SparkSession, dir: String): DataFrame = {
    val dec = DecimalType(38, 0)
    Tables.documents(spark, dir)
      .select(col("source"), col("n_chars").cast(LongType).as("w"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("w")).as("sum_w"),
        sum((col("w") * col("w")).cast(dec)).as("sum_w2"),
        max(col("w")).as("max_w"))
      .select(col("source"), col("n_docs"), col("sum_w"), col("max_w"),
        expr("CAST((CAST(sum_w AS DECIMAL(38,0)) * sum_w) div sum_w2 AS BIGINT)")
          .as("ess"),
        expr("CAST((CAST(sum_w AS DECIMAL(38,0)) * sum_w * 1000000) " +
          "div (sum_w2 * n_docs) AS BIGINT)").as("ess_ratio_micro"),
        expr("CAST((CAST(max_w AS DECIMAL(38,0)) * 1000000) div sum_w AS BIGINT)")
          .as("max_share_micro"))
  }

  val q209Sql: String =
    """WITH d AS (
      |  SELECT source, CAST(n_chars AS BIGINT) AS w FROM documents)
      |SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
      |  CAST(SUM(w) AS BIGINT) AS sum_w,
      |  CAST(MAX(w) AS BIGINT) AS max_w,
      |  CAST((CAST(SUM(w) AS HUGEINT) * CAST(SUM(w) AS HUGEINT))
      |    // SUM(CAST(w AS HUGEINT) * w) AS BIGINT) AS ess,
      |  CAST((CAST(SUM(w) AS HUGEINT) * CAST(SUM(w) AS HUGEINT) * 1000000)
      |    // (SUM(CAST(w AS HUGEINT) * w) * COUNT(*)) AS BIGINT)
      |    AS ess_ratio_micro,
      |  CAST((CAST(MAX(w) AS HUGEINT) * 1000000)
      |    // CAST(SUM(w) AS HUGEINT) AS BIGINT) AS max_share_micro
      |FROM d GROUP BY 1""".stripMargin

  // ------------------------------------------------------------------
  // q219: length-bucketing padding waste — the batch-assembly cost
  // model next to the packing/assembly queries (q136/q137): bucketed
  // batching pads every doc up to its bucket's token capacity
  // (multiples of 64, truncated at the 4096-token context), so the
  // padded fraction per bucket prices the throughput lost to short
  // sequences, and the truncated-token column prices what the context
  // cap destroys. All integer: waste_permille = padding·1000 div
  // capacity. ONE map-side-combined bucket tally is the only shuffle;
  // output is ≤ 64 bucket rows.
  // ------------------------------------------------------------------
  def q219PaddingWaste(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
      .select(expr("CAST(size(split(text, ' ')) AS BIGINT)").as("tk"))
      .select(least(col("tk"), lit(4096L)).as("kept"),
        greatest(col("tk") - 4096L, lit(0L)).as("cut"))
      .withColumn("bucket",
        expr("least(((kept + 63) div 64) * 64, 4096)"))
    docs.groupBy(col("bucket"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("kept")).as("n_tokens"),
        sum(col("bucket") - col("kept")).as("n_padding"),
        sum(col("cut")).as("n_truncated"))
      .withColumn("waste_permille",
        expr("n_padding * 1000 div (n_docs * bucket)"))
  }

  val q219Sql: String =
    """WITH d AS (
      |  SELECT LEAST(CAST(len(string_split(text, ' ')) AS BIGINT), 4096) AS kept,
      |    GREATEST(CAST(len(string_split(text, ' ')) AS BIGINT) - 4096, 0) AS cut
      |  FROM documents),
      |b AS (
      |  SELECT LEAST(((kept + 63) // 64) * 64, 4096) AS bucket, kept, cut
      |  FROM d)
      |SELECT bucket, CAST(COUNT(*) AS BIGINT) AS n_docs,
      |  CAST(SUM(kept) AS BIGINT) AS n_tokens,
      |  CAST(SUM(bucket - kept) AS BIGINT) AS n_padding,
      |  CAST(SUM(cut) AS BIGINT) AS n_truncated,
      |  CAST(SUM(bucket - kept) * 1000 // (COUNT(*) * bucket) AS BIGINT)
      |    AS waste_permille
      |FROM b GROUP BY bucket""".stripMargin

  // ------------------------------------------------------------------
  // q221: Good–Turing unseen-mass estimate (Good 1953; Gale & Sampson
  // 1995 simple GT) — the vocabulary-saturation companion to Heaps'
  // law (q193) and Zipf (q131): per source, the probability mass of
  // UNSEEN word types is estimated by the singleton share p0 = N1/N,
  // and the smoothed count for once-seen types is r1* = 2·N2/N1.
  // A source with high p0 is under-sampled (more data adds new
  // vocabulary); p0 → 0 means the source is lexically saturated.
  // Exact integers in micro units; div throughout.
  //
  // Scale shape: (source, term) tally → (source, freq) frequency-of-
  // frequencies tally → per-source rollup; each stage map-side
  // combines, nothing wider than the vocabulary ever shuffles.
  // ------------------------------------------------------------------
  def q221GoodTuring(spark: SparkSession, dir: String): DataFrame = {
    val freq = Tables.documents(spark, dir)
      .select(col("source"), explode(split(col("text"), " ")).as("t"))
      .filter(col("t") =!= "")
      .groupBy(col("source"), col("t")).agg(count(lit(1)).as("cnt"))
    freq.groupBy(col("source"))
      .agg(sum(col("cnt")).as("n_tokens"),
        count(lit(1)).as("vocab"),
        sum(when(col("cnt") === 1L, 1L).otherwise(0L)).as("n1"),
        sum(when(col("cnt") === 2L, 1L).otherwise(0L)).as("n2"))
      .select(col("source"), col("n_tokens"), col("vocab"), col("n1"),
        col("n2"),
        expr("n1 * 1000000 div n_tokens").as("p0_micro"),
        expr("CASE WHEN n1 > 0 THEN 2 * n2 * 1000000 div n1 " +
          "ELSE 0 END").as("r1_star_micro"))
  }

  val q221Sql: String =
    """WITH toks AS (
      |  SELECT source, unnest(string_split(text, ' ')) AS t FROM documents),
      |freq AS (
      |  SELECT source, t, CAST(COUNT(*) AS BIGINT) AS cnt FROM toks
      |  WHERE t <> '' GROUP BY source, t),
      |agg AS (
      |  SELECT source, CAST(SUM(cnt) AS BIGINT) AS n_tokens,
      |    CAST(COUNT(*) AS BIGINT) AS vocab,
      |    CAST(SUM(CASE WHEN cnt = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n1,
      |    CAST(SUM(CASE WHEN cnt = 2 THEN 1 ELSE 0 END) AS BIGINT) AS n2
      |  FROM freq GROUP BY source)
      |SELECT source, n_tokens, vocab, n1, n2,
      |  CAST(n1 * 1000000 // n_tokens AS BIGINT) AS p0_micro,
      |  CAST(CASE WHEN n1 > 0 THEN 2 * n2 * 1000000 // n1 ELSE 0 END
      |    AS BIGINT) AS r1_star_micro
      |FROM agg""".stripMargin

  // ------------------------------------------------------------------
  // q237: distinct-n lexical diversity per source (Li et al. 2016's
  // distinct-1/2/3): unique n-grams ÷ total n-grams for n ∈ {1,2,3}.
  // Low distinct-2/3 with ordinary distinct-1 is the signature of
  // templated or looping text (the same phrases recombined) that
  // per-doc repetition rules (q48) miss when the repetition is spread
  // ACROSS documents — the source-level complement to q223's novelty.
  //
  // Scale shape: n-grams are built map-side by an array transform over
  // the token list (one slide per n, no join, no window over token
  // rows), one flatten+explode into a (source, n, gram) tally, then a
  // (source, n) rollup where COUNT(*) of tally rows IS the distinct
  // count — two map-side-combined aggregations, never a countDistinct
  // expand. Output is exactly 3 rows per source at any corpus size.
  //
  // The exact tally is still shuffle-LINEAR in token count (every
  // distinct gram string crosses the wire once — measured 8× wall on
  // the 10× replica), so past an estimated 1e8 tokens (the shared
  // column-pruned `CorpusQueries.tokenCountEstimate` probe) the
  // distinct side switches to a per-(source,n)
  // HLL sketch: partial-aggregable, so gram strings NEVER shuffle and
  // only 3·|sources| kilobyte sketches move. The oracle pins the
  // exact path; the sketch path carries lgK=14's ~0.4% error.
  // ------------------------------------------------------------------
  private val SketchTokens = 100000000L

  def q237NgramDiversity(spark: SparkSession, dir: String): DataFrame =
    if (CorpusQueries.tokenCountEstimate(spark, dir) > SketchTokens)
      q237NgramDiversityHll(spark, dir)
    else q237NgramDiversityExact(spark, dir)

  private[graft] def q237NgramDiversityExact(spark: SparkSession, dir: String): DataFrame = {
    // compiled one-pass kernel (MultiNgramsExpression): the declarative
    // per-width slice/concat_ws dual re-evaluated an interpreted lambda
    // per position per width and was the heaviest bench query (6.1 s at
    // sf0.1; the kernel halves it). Projected BEFORE the explode so the
    // generator input is a plain column (round-5 codegen gotcha).
    Tables.documents(spark, dir)
      .select(col("source"),
        graft.functions.TextHashFunctions.multiNgrams(col("text"), 3).as("gs"))
      .select(col("source"), explode(col("gs")).as("e"))
      .select(col("source"), col("e.n").as("n"), col("e.g").as("g"))
      .groupBy(col("source"), col("n"), col("g")).agg(count(lit(1)).as("c"))
      .groupBy(col("source"), col("n"))
      .agg(count(lit(1)).as("distinct_ngrams"), sum(col("c")).as("total_ngrams"))
      .withColumn("diversity", round(
        col("distinct_ngrams").cast(DoubleType) /
          col("total_ngrams").cast(DoubleType), 4))
      .orderBy(col("source"), col("n"))
  }

  /**
   * Sketch path of q237: the distinct-gram count per (source, n) comes
   * from one mergeable HLL per group (lgK=14, ~0.4% standard error —
   * q147's calibration), so the aggregation is fully partial-
   * aggregable and NO gram string ever crosses an exchange; the total
   * count rides the same rollup. Work past the scan is 3·|sources|
   * sketch merges regardless of corpus size.
   */
  private[graft] def q237NgramDiversityHll(spark: SparkSession, dir: String): DataFrame = {
    Tables.documents(spark, dir)
      .select(col("source"),
        graft.functions.TextHashFunctions.multiNgrams(col("text"), 3).as("gs"))
      .select(col("source"), explode(col("gs")).as("e"))
      .select(col("source"), col("e.n").as("n"), col("e.g").as("g"))
      .groupBy(col("source"), col("n"))
      .agg(round(hll_sketch_estimate(hll_sketch_agg(col("g"), lit(14))))
          .cast(LongType).as("distinct_ngrams"),
        count(lit(1)).as("total_ngrams"))
      .withColumn("diversity", round(
        col("distinct_ngrams").cast(DoubleType) /
          col("total_ngrams").cast(DoubleType), 4))
      .orderBy(col("source"), col("n"))
  }

  val q237Sql: String =
    """WITH toks AS (
      |  SELECT source, string_split(text, ' ') AS t FROM documents),
      |g AS (
      |  SELECT source, ns.n AS n, u.g AS g
      |  FROM toks, (VALUES (1), (2), (3)) AS ns(n),
      |    UNNEST(CASE WHEN len(t) >= ns.n THEN
      |      list_transform(range(1, len(t) - ns.n + 2),
      |        i -> array_to_string(list_slice(t, i, i + ns.n - 1), ' '))
      |      ELSE CAST([] AS VARCHAR[]) END) AS u(g)),
      |tally AS (
      |  SELECT source, n, g, CAST(COUNT(*) AS BIGINT) AS c
      |  FROM g GROUP BY source, n, g)
      |SELECT source, CAST(n AS INT) AS n,
      |  CAST(COUNT(*) AS BIGINT) AS distinct_ngrams,
      |  CAST(SUM(c) AS BIGINT) AS total_ngrams,
      |  round(CAST(COUNT(*) AS DOUBLE) / CAST(SUM(c) AS DOUBLE), 4) AS diversity
      |FROM tally GROUP BY source, n
      |ORDER BY source, n""".stripMargin

  // ------------------------------------------------------------------
  // q242: top principal component of the embedding space — the
  // dominant direction of variance, the first step of embedding
  // whitening (Mu & Viswanath 2018's "all-but-the-top": removing it
  // improves retrieval/similarity quality) and the 1-D projection
  // used to spot anisotropy and batch effects.
  //
  // Exactness by construction — NO float ever enters the pipeline:
  // embeddings are milli-quantized to integers per element, the Gram
  // sums fold through LongGramAggregate (exact in any order), and the
  // covariance n·Σxy − Σx·Σy is iterated by REPEATED MATRIX SQUARING
  // (16 squarings ≡ 2¹⁶ power-iteration steps — plain power iteration
  // stalls on this data's ~0.99 eigengap, squaring does not), each
  // squaring renormalized to ±10⁶ fixed-point by truncating integer
  // division. Everything runs in BigInteger arithmetic on the DRIVER
  // over the d×d matrix; DuckDB replays the identical integer
  // recursion in HUGEINT, so both engines produce bit-identical
  // loadings WITHOUT convergence arguments — the squaring count is
  // part of the contract (TopComponentSpec separately pins alignment
  // with the double-precision eigensolver at |cos| > 0.999). Sign is
  // fixed by making the largest-|loading| component (lowest index on
  // ties) positive; variance explained is the Rayleigh quotient over
  // the trace, exact integer division to micro.
  //
  // 100 TB shape: the corpus NEVER shuffles — LongGramAggregate folds
  // each partition into one ~2 k-long buffer (q132's Gram shape, long
  // buffer so no 2⁵³ ceiling) and only partial buffers merge; the
  // collect is ONE dimension-sized row, and the iteration is O(d²) on
  // the driver (d = 64). ONE exchange end to end.
  // ------------------------------------------------------------------
  /** The milli-quantization shared by q242/q243/q246 and their oracles. */
  private def milliVec: Column = transform(col("embedding"),
    e => round(e.cast(DoubleType) * lit(1000.0), 0).cast(LongType))

  /** One LongGramAggregate pass: the raw exact buffer + n. */
  private def longGram(spark: SparkSession, dir: String): (Seq[Long], Long) = {
    val d = EmbDim
    val g = Tables.embeddings(spark, dir)
      .agg(LongGramAggregate.gram(milliVec, d).as("g"))
      .head().getSeq[Long](0)
    (g, g(d * (d + 1) / 2 + d))
  }

  /**
   * Driver-side exact top-component solve shared by q242/q243: ONE
   * LongGramAggregate pass, then [[IntEigen]]'s integer covariance +
   * matrix-squaring solve. Returns (m, vf, n): the scaled integer
   * covariance, the sign-fixed ±10⁶ fixed-point loading vector, and
   * the row count — all bit-identical to the DuckDB CTE replay.
   */
  private def topComponentSolve(
      spark: SparkSession, dir: String): (Array[Array[BigInt]], Array[BigInt], BigInt) = {
    val (g, n) = longGram(spark, dir)
    val m = IntEigen.covScaled(g.map(BigInt(_)).toIndexedSeq, EmbDim)
    (m, IntEigen.topComponent(m), BigInt(n))
  }

  def q242TopComponent(spark: SparkSession, dir: String): DataFrame = {
    val d = EmbDim
    val (m, vf, n) = topComponentSolve(spark, dir)
    val veMicro = IntEigen.varExplainedMicro(m, vf)
    import spark.implicits._
    (0 until d).map(i => (i, vf(i).toLong, veMicro.toLong, n.toLong))
      .toDF("dim", "loading_micro", "var_explained_micro", "n_vecs")
      .orderBy(col("dim"))
  }

  /** Shared CTE chain through `vf` (the sign-fixed loading vector) —
    * the oracle replay of [[topComponentSolve]], reused by q242/q243. */
  private val topComponentCtes: String = {
    val iter = (k: Int) =>
      s"""p$k AS MATERIALIZED (
         |  SELECT a.i AS i, b.j AS j, SUM(a.v * b.v) AS c
         |  FROM q${k - 1} a JOIN q${k - 1} b ON a.j = b.i GROUP BY a.i, b.j),
         |q$k AS MATERIALIZED (
         |  SELECT i, j, c // (SELECT greatest(CAST(1 AS HUGEINT),
         |    MAX(abs(c)) // 1000000) FROM p$k) AS v
         |  FROM p$k),""".stripMargin
    """WITH mil AS MATERIALIZED (
      |  SELECT vec_id, CAST(r.i AS INT) AS i,
      |    CAST(round(CAST(embedding[r.i + 1] AS DOUBLE) * 1000.0, 0)
      |      AS BIGINT) AS x
      |  FROM embeddings, range(64) r(i)),
      |sums AS (
      |  SELECT a.i AS i, b.i AS j, SUM(CAST(a.x AS HUGEINT) * b.x) AS sxy
      |  FROM mil a JOIN mil b ON a.vec_id = b.vec_id GROUP BY a.i, b.i),
      |sx AS (SELECT i, CAST(SUM(x) AS HUGEINT) AS sx FROM mil GROUP BY i),
      |nn AS (SELECT CAST(COUNT(*) AS HUGEINT) AS n FROM embeddings),
      |cov AS (
      |  SELECT s.i, s.j, n * s.sxy - a.sx * b.sx AS c
      |  FROM sums s JOIN sx a ON a.i = s.i JOIN sx b ON b.i = s.j
      |  CROSS JOIN nn),
      |scl AS (SELECT greatest(CAST(1 AS HUGEINT), MAX(abs(c)) // 1000000)
      |  AS s FROM cov),
      |m AS MATERIALIZED (SELECT i, j, c // s AS v FROM cov CROSS JOIN scl),
      |q0 AS (SELECT i, j, v FROM m),
      |""".stripMargin +
      (1 to 16).map(iter).mkString("\n") +
      """
      |wv AS (SELECT i, SUM(v) AS w FROM q16 GROUP BY i),
      |vv AS (SELECT i, (w * 1000000) // (SELECT MAX(abs(w)) FROM wv) AS v
      |  FROM wv),
      |sgn AS (SELECT CASE WHEN
      |    (SELECT v FROM vv ORDER BY abs(v) DESC, i LIMIT 1) < 0
      |  THEN -1 ELSE 1 END AS s),
      |vf AS MATERIALIZED (SELECT i, v * s AS v FROM vv CROSS JOIN sgn)""".stripMargin
  }

  val q242Sql: String = topComponentCtes +
    """,
      |num AS (SELECT SUM(a.v * m.v * b.v) AS num
      |  FROM m JOIN vf a ON a.i = m.i JOIN vf b ON b.i = m.j),
      |den AS (SELECT SUM(v * v) AS den FROM vf),
      |tr AS (SELECT SUM(v) AS tr FROM m WHERE i = j)
      |SELECT CAST(vf.i AS INT) AS dim, CAST(vf.v AS BIGINT) AS loading_micro,
      |  CAST((num * 1000000) // (den * tr) AS BIGINT) AS var_explained_micro,
      |  CAST(n AS BIGINT) AS n_vecs
      |FROM vf CROSS JOIN num CROSS JOIN den CROSS JOIN tr CROSS JOIN nn
      |ORDER BY dim""".stripMargin

  // ------------------------------------------------------------------
  // q243: principal-component projection audit — one-way ANOVA of the
  // q242 top-component projection across labels: does the dominant
  // variance direction encode the LABEL (a batch effect / shortcut the
  // "all-but-the-top" removal would fix) or is it label-neutral? Per
  // label: projection mean and std; globally: η² (between-group share
  // of the sum of squares, exact micro integer) and the F statistic.
  //
  // Exactness: the loading vector comes from the shared BigInt solve
  // (bit-identical to the oracle's CTE replay); each row's projection
  // is an exact integer dot (milli·micro fixed point, zip_with fold —
  // zero shuffle); group sums/squares are exact DECIMAL/HUGEINT. The
  // sum-of-squares decomposition (Σ s_g²/n_g truncating divisions —
  // quotients ~10²⁶ overflow Spark `div`'s LONG return, so it runs on
  // the DRIVER in BigInt over the collected |labels|-row group table,
  // truncation-identical to the oracle's HUGEINT `//`); η² is exact
  // integer micro; F and std are single identical double expressions
  // over exact integers (driver doubles attached as literals, rounded
  // by the engine's own round like every other suite float).
  //
  // 100 TB shape: gram job (ONE exchange, q242's), then ONE per-label
  // tally of per-row integer dots; everything after is |labels|-sized.
  // ------------------------------------------------------------------
  def q243PcProjectionAudit(spark: SparkSession, dir: String): DataFrame = {
    val dec = DecimalType(38, 0)
    val (_, vf, _) = topComponentSolve(spark, dir)
    val vLit = array(vf.map(x => lit(x.toLong)): _*)
    val proj = aggregate(zip_with(milliVec, vLit, (x, v) => x * v),
      lit(0L), (acc, x) => acc + x)
    val grp = Tables.embeddings(spark, dir)
      .select(col("label"), proj.as("p"))
      .groupBy(col("label"))
      .agg(count(lit(1)).as("n_g"), sum(col("p").cast(dec)).as("s_g"),
        sum((col("p").cast(dec) * col("p").cast(dec))).as("ss_g"))
      .localCheckpoint() // reused: per-label rows AND the ANOVA collect
    val rows = grp.collect() // |labels| rows — dimension-sized
    def big(x: java.math.BigDecimal): BigInt = BigInt(x.toBigInteger)
    val nAll = rows.map(r => BigInt(r.getLong(1))).foldLeft(BigInt(0))(_ + _)
    val sAll = rows.map(r => big(r.getDecimal(2))).foldLeft(BigInt(0))(_ + _)
    val ssAll = rows.map(r => big(r.getDecimal(3))).foldLeft(BigInt(0))(_ + _)
    val k = rows.length
    // BigInt `/` truncates toward zero — identical to DuckDB `//`
    val sbPart = rows.map(r => big(r.getDecimal(2)).pow(2) / BigInt(r.getLong(1)))
      .foldLeft(BigInt(0))(_ + _)
    val ssb = sbPart - (sAll * sAll) / nAll
    val sst = ssAll - (sAll * sAll) / nAll
    val etaMicro = ((ssb * 1000000) / sst).toLong
    val fStat = (ssb.toDouble / (k - 1).toDouble) /
      ((sst - ssb).toDouble / (nAll - k).toDouble)
    grp
      .select(col("label").cast(IntegerType).as("label"), col("n_g"),
        expr("CAST(s_g div n_g AS BIGINT)").as("mean_proj"),
        round(sqrt(
          (col("n_g").cast(dec) * col("ss_g") -
            col("s_g") * col("s_g")).cast(DoubleType) /
            (col("n_g").cast(DoubleType) *
              (col("n_g") - lit(1L)).cast(DoubleType))), 4).as("std_proj"),
        lit(etaMicro).as("eta_sq_micro"),
        round(lit(fStat), 4).as("f_stat"))
      .orderBy(col("label"))
  }

  val q243Sql: String = topComponentCtes +
    """,
      |pr AS MATERIALIZED (
      |  SELECT m0.vec_id, SUM(m0.x * vf.v) AS p
      |  FROM mil m0 JOIN vf ON vf.i = m0.i GROUP BY m0.vec_id),
      |grp AS (
      |  SELECT l.label, CAST(COUNT(*) AS BIGINT) AS n_g,
      |    CAST(SUM(p.p) AS HUGEINT) AS s_g,
      |    SUM(CAST(p.p AS HUGEINT) * p.p) AS ss_g
      |  FROM pr p JOIN (SELECT vec_id, label FROM embeddings) l
      |    ON l.vec_id = p.vec_id GROUP BY l.label),
      |fs AS (
      |  SELECT CAST(SUM(n_g) AS HUGEINT) AS n, CAST(COUNT(*) AS BIGINT) AS k,
      |    SUM((s_g * s_g) // n_g) - (SUM(s_g) * SUM(s_g)) // CAST(SUM(n_g)
      |      AS HUGEINT) AS ssb,
      |    SUM(ss_g) - (SUM(s_g) * SUM(s_g)) // CAST(SUM(n_g) AS HUGEINT)
      |      AS sst
      |  FROM grp)
      |SELECT CAST(g.label AS INT) AS label, g.n_g,
      |  CAST(g.s_g // g.n_g AS BIGINT) AS mean_proj,
      |  round(sqrt(CAST(g.n_g * g.ss_g - g.s_g * g.s_g AS DOUBLE) /
      |    (CAST(g.n_g AS DOUBLE) * CAST(g.n_g - 1 AS DOUBLE))), 4)
      |    AS std_proj,
      |  CAST((f.ssb * 1000000) // f.sst AS BIGINT) AS eta_sq_micro,
      |  round((CAST(f.ssb AS DOUBLE) / CAST(f.k - 1 AS DOUBLE)) /
      |    (CAST(f.sst - f.ssb AS DOUBLE) / CAST(f.n - f.k AS DOUBLE)), 4)
      |    AS f_stat
      |FROM grp g CROSS JOIN fs f ORDER BY label""".stripMargin

  // ------------------------------------------------------------------
  // q246: variance-normalized embedding outliers — top-20 vectors by
  // diagonal Mahalanobis distance D² = Σ_i (x_i − μ_i)²/σ_i². The
  // dimension-aware companion to q107's centroid-cosine pruning: a
  // vector extreme in a LOW-variance dimension is the real anomaly
  // (encoder glitch, corrupt decode, wrong modality), which the
  // unnormalized cosine misses when high-variance dimensions dominate.
  //
  // Exactness: milli-quantized integers; per-dim moments from the ONE
  // LongGramAggregate pass (diag + sums, exact any order); per-dim
  // addend ((n·x − S)² / (n·Q − S²)) evaluated as ONE identical double
  // expression, micro-rounded per dim, summed exactly per vector;
  // constant dims (zero variance) contribute 0 by guard in both
  // engines. The numerator n·x − S stays an exact LONG to ~2e15 rows
  // (|x| ≤ ~4e3 milli-units), but the denominator n·Q − S² grows as
  // n²·σ² and wraps LONG near 10⁶ vectors — so the driver moments run
  // in BigInt (the covScaled convention) and den reaches the plan as a
  // DOUBLE literal: BigInt.toDouble is round-to-nearest, the same
  // conversion DuckDB applies in its HUGEINT→DOUBLE cast, so the
  // one-double-expression parity contract holds at any n. den = 0
  // (constant dim) survives the conversion exactly — a nonzero
  // integer's double image is ≥ 1.0 — so the zero guard tests the
  // double literal directly.
  //
  // 100 TB shape: the gram job (ONE exchange) then a ZERO-shuffle
  // per-row zip_with fold with the 64-long moment arrays inlined as
  // literals; the top-20 is TakeOrderedAndProject (per-task heaps,
  // never a global sort).
  // ------------------------------------------------------------------
  def q246MahalanobisOutliers(spark: SparkSession, dir: String): DataFrame = {
    val d = EmbDim
    val (g, n) = longGram(spark, dir)
    val triLen = d * (d + 1) / 2
    val nB = BigInt(n)
    val s = (0 until d).map(i => BigInt(g(triLen + i)))
    val q = (0 until d).map(i => BigInt(g(i * d - i * (i - 1) / 2)))
    val den = (0 until d).map(i => nB * q(i) - s(i) * s(i))
    val sArr = array(s.map(x => lit(x.toLong)): _*)
    val dArr = array(den.map(x => lit(x.toDouble)): _*)
    val t1 = zip_with(milliVec, sArr, (x, sv) => lit(n) * x - sv)
    val t2 = zip_with(t1, dArr, (t, dv) =>
      when(dv === 0.0, lit(0L)).otherwise(
        round(t.cast(DoubleType) * t.cast(DoubleType) / dv *
          lit(1000000.0), 0).cast(LongType)))
    Tables.embeddings(spark, dir)
      .select(col("vec_id"), col("label"),
        aggregate(t2, lit(0L), (acc, x) => acc + x).as("d2_micro"))
      .orderBy(col("d2_micro").desc, col("vec_id"))
      .limit(20)
  }

  val q246Sql: String =
    """WITH mil AS MATERIALIZED (
      |  SELECT vec_id, CAST(r.i AS INT) AS i,
      |    CAST(round(CAST(embedding[r.i + 1] AS DOUBLE) * 1000.0, 0)
      |      AS BIGINT) AS x
      |  FROM embeddings, range(64) r(i)),
      |mom AS (
      |  SELECT i, CAST(COUNT(*) AS HUGEINT) AS n,
      |    CAST(SUM(x) AS HUGEINT) AS s,
      |    SUM(CAST(x AS HUGEINT) * x) AS q
      |  FROM mil GROUP BY i),
      |add_ AS (
      |  SELECT m.vec_id,
      |    CASE WHEN mo.n * mo.q - mo.s * mo.s = 0 THEN 0
      |      ELSE CAST(round(CAST(mo.n * m.x - mo.s AS DOUBLE) *
      |        CAST(mo.n * m.x - mo.s AS DOUBLE) /
      |        CAST(mo.n * mo.q - mo.s * mo.s AS DOUBLE) * 1000000.0, 0)
      |        AS BIGINT)
      |      END AS a
      |  FROM mil m JOIN mom mo ON mo.i = m.i),
      |d2 AS (
      |  SELECT vec_id, CAST(SUM(a) AS BIGINT) AS d2_micro
      |  FROM add_ GROUP BY vec_id)
      |SELECT d.vec_id, e.label, d.d2_micro
      |FROM d2 d JOIN embeddings e ON e.vec_id = d.vec_id
      |ORDER BY d.d2_micro DESC, d.vec_id
      |LIMIT 20""".stripMargin

  // ------------------------------------------------------------------
  // q258: temperature-scaled mixing-weight sweep — sampling weights
  // w_s ∝ n_s^α over per-source TOKEN counts for α ∈ {0.25, 0.5,
  // 0.75} (the multilingual temperature-sampling family: mT5/XLM-R's
  // exponent sweep; α=1 is proportional, α→0 uniform), with the
  // effective epochs-per-source w_s·N/n_s each α implies under a
  // one-total-pass token budget. The table a mixture decision reads
  // BEFORE committing to q127's fixed α=0.5 doc-count weights or
  // q136's epoch schedule: it shows which sources a lower temperature
  // over-epochs (small sources repeated >2-3× = memorization risk,
  // the q224/q91 axis).
  //
  // Float parity without pow(): n^0.25 = sqrt(sqrt(n)) and
  // n^0.75 = sqrt(n)·sqrt(sqrt(n)) — sqrt is CORRECTLY ROUNDED in
  // IEEE 754 (pow is not and differs across libm builds), and the
  // product of two identical doubles is identical, so both engines
  // compute bit-equal weights from exact integer n_s. Each weight
  // addend is micro-rounded to an integer BEFORE the normalizing sum,
  // so no float ever accumulates; weight_ppm and epochs_micro are
  // truncating divisions of exact DECIMAL/HUGEINT products.
  //
  // 100 TB shape: per-doc token counts are row-local; ONE narrow
  // (source, count) exchange with map-side combine; the α sweep
  // explodes over the |sources|-row rollup, never the corpus.
  // ------------------------------------------------------------------
  def q258TemperatureMix(spark: SparkSession, dir: String): DataFrame = {
    val counts = Tables.documents(spark, dir)
      .select(col("source"),
        size(array_remove(split(col("text"), " "), ""))
          .cast(LongType).as("toks"))
      .groupBy(col("source")).agg(sum(col("toks")).as("n_tokens"))
      // an all-empty source has no sampleable tokens; dropping it also
      // keeps every later division strictly positive in both engines
      .filter(col("n_tokens") > 0)
    val r4 = sqrt(sqrt(col("n_tokens").cast(DoubleType)))   // n^0.25
    val r2 = sqrt(col("n_tokens").cast(DoubleType))         // n^0.5
    val addend = (alphaPm: Long) => {
      val a = alphaPm match {
        case 250L => r4
        case 500L => r2
        case 750L => r2 * r4
      }
      round(a * lit(1000000.0), 0).cast(LongType)
    }
    val sweep = counts.select(
      col("source"), col("n_tokens"),
      explode(array(Seq(250L, 500L, 750L).map(a =>
        struct(lit(a).as("alpha_pm"), addend(a).as("w"))): _*)).as("e"))
      .select(col("source"), col("n_tokens"),
        col("e.alpha_pm").as("alpha_pm"), col("e.w").as("w"))
    // totals fold in DECIMAL(38,0): the oracle sums these in HUGEINT,
    // and a plain LongType SUM would silently wrap past ~9.2e18 — the
    // same Long-wrap class the ppm products below already widen for
    // (unreachable at test SFs, but the convention is uniform)
    val dec38 = DecimalType(38, 0)
    val totals = sweep.groupBy(col("alpha_pm"))
      .agg(sum(col("w").cast(dec38)).as("w_tot"),
        sum(col("n_tokens").cast(dec38)).as("n_tot"))
    sweep.join(broadcast(totals), "alpha_pm")
      .select(col("alpha_pm"), col("source"), col("n_tokens"),
        expr("CAST(CAST(w AS DECIMAL(38,0)) * 1000000 div w_tot AS BIGINT)")
          .as("weight_ppm"),
        expr("CAST(CAST(w AS DECIMAL(38,0)) * n_tot * 1000000 " +
          "div (CAST(w_tot AS DECIMAL(38,0)) * n_tokens) AS BIGINT)")
          .as("epochs_micro"))
      .orderBy(col("alpha_pm"), col("source"))
  }

  // ------------------------------------------------------------------
  // q261: context-window fit sweep — for ctx lengths L ∈ {32, 64,
  // 128} tokens: how many documents fit whole, how many tokens a
  // truncate-at-L policy discards, and how many chunks a split-at-L
  // policy produces. The truncate-vs-split decision table a pipeline
  // reads BEFORE q75's packing runs (q75/q219 measure packing
  // efficiency AFTER the policy is chosen; this measures what each
  // policy costs). L values sized to the synthetic corpus's 10–100
  // token docs; production swaps {2k, 8k, 32k}.
  //
  // Exactness: all integer counts — fit flags, max(t−L, 0) losses,
  // ⌈t/L⌉ = (t+L−1) div L chunks — folded in ONE single-row
  // aggregate (the q254 sweep shape: per-L conditional sums, then a
  // stack over the 1-row frame — the corpus is scanned once, never
  // exploded per L); ppm ratios are truncating divisions.
  // ------------------------------------------------------------------
  def q261ContextFitSweep(spark: SparkSession, dir: String): DataFrame = {
    val ls = Seq(32L, 64L, 128L)
    val docs = Tables.documents(spark, dir)
      .select(size(array_remove(split(col("text"), " "), ""))
        .cast(LongType).as("t"))
    val aggCols =
      count(lit(1)).as("n_docs") ::
      sum(col("t")).as("toks") ::
      ls.flatMap(l => Seq(
        sum(when(col("t") <= l, 1L).otherwise(0L)).as(s"f$l"),
        sum(greatest(col("t") - l, lit(0L))).as(s"x$l"),
        sum(expr(s"CAST((t + ${l - 1}) div $l AS BIGINT)")).as(s"c$l"))).toList
    val one = docs.agg(aggCols.head, aggCols.tail: _*)
    one.select(col("n_docs"), col("toks"),
        expr("stack(3, " + ls.map(l => s"${l}L, f$l, x$l, c$l").mkString(", ") +
          ")").as(Seq("ctx", "fit_docs", "tokens_lost", "chunks_split")))
      .select(col("ctx"), col("n_docs"), col("fit_docs"),
        expr("CAST(CASE WHEN n_docs > 0 THEN CAST(fit_docs AS DECIMAL(38,0)) " +
          "* 1000000 div n_docs ELSE 0 END AS BIGINT)").as("fit_ppm"),
        col("toks").as("tokens_total"), col("tokens_lost"),
        expr("CAST(CASE WHEN toks > 0 THEN CAST(tokens_lost AS DECIMAL(38,0)) " +
          "* 1000000 div toks ELSE 0 END AS BIGINT)").as("loss_ppm"),
        col("chunks_split"))
      .orderBy(col("ctx"))
  }

  val q261Sql: String = {
    val ls = Seq(32, 64, 128)
    val per = ls.map(l =>
      s"""CAST(SUM(CASE WHEN t <= $l THEN 1 ELSE 0 END) AS BIGINT) AS f$l,
         |  CAST(SUM(greatest(t - $l, 0)) AS BIGINT) AS x$l,
         |  CAST(SUM((t + ${l - 1}) // $l) AS BIGINT) AS c$l""".stripMargin)
      .mkString(",\n  ")
    val arms = ls.map(l =>
      s"SELECT CAST($l AS BIGINT) AS ctx, n_docs, f$l AS fit_docs, " +
        s"x$l AS tokens_lost, c$l AS chunks_split, toks FROM a")
      .mkString("\n  UNION ALL ")
    s"""WITH t AS (
       |  SELECT CAST(len(list_filter(string_split(text, ' '), w -> w <> ''))
       |    AS BIGINT) AS t
       |  FROM documents),
       |a AS (
       |  SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
       |  CAST(SUM(t) AS BIGINT) AS toks,
       |  $per
       |  FROM t)
       |SELECT ctx, n_docs, fit_docs,
       |  CAST(CASE WHEN n_docs > 0 THEN CAST(fit_docs AS HUGEINT) * 1000000
       |    // n_docs ELSE 0 END AS BIGINT) AS fit_ppm,
       |  toks AS tokens_total, tokens_lost,
       |  CAST(CASE WHEN toks > 0 THEN CAST(tokens_lost AS HUGEINT) * 1000000
       |    // toks ELSE 0 END AS BIGINT) AS loss_ppm,
       |  chunks_split
       |FROM ($arms)
       |ORDER BY ctx""".stripMargin
  }

  val q258Sql: String =
    """WITH counts AS (
      |  SELECT source,
      |    CAST(SUM(len(list_filter(string_split(text, ' '), w -> w <> '')))
      |      AS BIGINT) AS n_tokens
      |  FROM documents GROUP BY source
      |  HAVING SUM(len(list_filter(string_split(text, ' '), w -> w <> ''))) > 0),
      |sweep AS (
      |  SELECT source, n_tokens, a.alpha_pm,
      |    CAST(round(CASE a.alpha_pm
      |      WHEN 250 THEN sqrt(sqrt(CAST(n_tokens AS DOUBLE)))
      |      WHEN 500 THEN sqrt(CAST(n_tokens AS DOUBLE))
      |      ELSE sqrt(CAST(n_tokens AS DOUBLE)) *
      |        sqrt(sqrt(CAST(n_tokens AS DOUBLE)))
      |      END * 1000000.0, 0) AS BIGINT) AS w
      |  FROM counts
      |  CROSS JOIN (VALUES (CAST(250 AS BIGINT)), (500), (750))
      |    a(alpha_pm)),
      |totals AS (
      |  SELECT alpha_pm, CAST(SUM(w) AS HUGEINT) AS w_tot,
      |    CAST(SUM(n_tokens) AS HUGEINT) AS n_tot
      |  FROM sweep GROUP BY alpha_pm)
      |SELECT s.alpha_pm, s.source, s.n_tokens,
      |  CAST(CAST(s.w AS HUGEINT) * 1000000 // t.w_tot AS BIGINT)
      |    AS weight_ppm,
      |  CAST(CAST(s.w AS HUGEINT) * t.n_tot * 1000000
      |    // (t.w_tot * s.n_tokens) AS BIGINT) AS epochs_micro
      |FROM sweep s JOIN totals t ON t.alpha_pm = s.alpha_pm
      |ORDER BY s.alpha_pm, s.source""".stripMargin
}
