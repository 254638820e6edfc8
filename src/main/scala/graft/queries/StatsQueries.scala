package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.sources.Tables

/**
 * Statistical profiling surface: correlation/regression, fuzzy entity
 * matching, and anomaly detection — the data-quality checks a pipeline
 * runs alongside ingestion (reference exposes these via SQL pass-through
 * + pandas; here they are one distributed plan each).
 *
 * Float-parity discipline (see CoreQueries.scala header): every moment
 * (Σx, Σx², Σxy) is an EXACT decimal sum, cast to DOUBLE only at the
 * end; the closed-form double arithmetic is written with identical
 * structure in Spark and DuckDB so IEEE evaluation is bit-identical.
 * Means/variances are never computed by the engines' own streaming
 * `avg`/`corr` (order-dependent partials).
 */
object StatsQueries {

  private def dec(c: Column, p: Int = 18, s: Int = 4): Column =
    c.cast(DecimalType(p, s))

  /** Absolute-size decimation modulus: the key stride that keeps a
    * `key % m == 0` sample at ~`target` rows regardless of table size
    * (m = max(1, n div target) — truncating division, identical to
    * DuckDB `greatest(1, COUNT(*) // target)` so an oracle can derive
    * the SAME modulus in SQL). For n ≤ target the sample is the whole
    * table (m = 1); for n > target the sample size is < 2·target
    * (n/(n div target) < 2·target for n ≥ target — pinned in
    * SampleModulusSpec), so any brute-force truth anchor built on it
    * has CONSTANT cost at any corpus size. */
  def sampleModulus(n: Long, target: Long): Long =
    math.max(1L, n / math.max(1L, target))

  // ------------------------------------------------------------------
  // q56: correlation + least-squares regression from exact moments.
  // Single aggregation pass (one shuffle on the group key) computes all
  // five moments; the closed forms are evaluated on the tiny grouped
  // result. At 100 TB this is the only sane formulation: one partial-
  // aggregable pass, no second scan, no order-dependent float partials.
  //   corr  = (nΣxy − ΣxΣy) / sqrt((nΣx² − (Σx)²)(nΣy² − (Σy)²))
  //   slope = (nΣxy − ΣxΣy) / (nΣx² − (Σx)²)
  // ------------------------------------------------------------------
  def q56CorrRegression(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir)
    // Values have ≤2 decimal places → ×100 round-trips to EXACT integers
    // (identical IEEE round both engines). Integer moments sum exactly;
    // Spark sums through DECIMAL(38,0) (long Σy² would overflow),
    // DuckDB's SUM(BIGINT) is already exact HUGEINT. corr and slope are
    // invariant under the equal scaling; intercept unscales by /100.
    val x = round(col("l_quantity") * 100).cast(LongType)
    val y = round(col("l_extendedprice") * 100).cast(LongType)
    val big = (c: Column) => c.cast(DecimalType(38, 0))
    val moments = li.groupBy(col("l_returnflag")).agg(
      count(lit(1)).as("n"),
      sum(big(x)).cast(DoubleType).as("sx"),
      sum(big(y)).cast(DoubleType).as("sy"),
      sum(big(x * x)).cast(DoubleType).as("sxx"),
      sum(big(y * y)).cast(DoubleType).as("syy"),
      sum(big(x * y)).cast(DoubleType).as("sxy"))
    val n = col("n").cast(DoubleType)
    val covN = n * col("sxy") - col("sx") * col("sy")
    val varX = n * col("sxx") - col("sx") * col("sx")
    val varY = n * col("syy") - col("sy") * col("sy")
    moments.select(
      col("l_returnflag"), col("n"),
      (covN / sqrt(varX * varY)).as("corr_qty_price"),
      (covN / varX).as("slope"),
      (((col("sy") - (covN / varX) * col("sx")) / n) / lit(100.0)).as("intercept"))
  }

  val q56Sql: String =
    """WITH sc AS (
      |  SELECT l_returnflag,
      |    CAST(round(l_quantity * 100) AS BIGINT) AS x,
      |    CAST(round(l_extendedprice * 100) AS BIGINT) AS y
      |  FROM lineitem),
      |m AS (
      |  SELECT l_returnflag, COUNT(*) AS n,
      |    CAST(SUM(x) AS DOUBLE) AS sx, CAST(SUM(y) AS DOUBLE) AS sy,
      |    CAST(SUM(x * x) AS DOUBLE) AS sxx, CAST(SUM(y * y) AS DOUBLE) AS syy,
      |    CAST(SUM(x * y) AS DOUBLE) AS sxy
      |  FROM sc GROUP BY l_returnflag)
      |SELECT l_returnflag, n,
      |  (CAST(n AS DOUBLE) * sxy - sx * sy)
      |    / sqrt((CAST(n AS DOUBLE) * sxx - sx * sx) * (CAST(n AS DOUBLE) * syy - sy * sy)) AS corr_qty_price,
      |  (CAST(n AS DOUBLE) * sxy - sx * sy) / (CAST(n AS DOUBLE) * sxx - sx * sx) AS slope,
      |  ((sy - ((CAST(n AS DOUBLE) * sxy - sx * sy) / (CAST(n AS DOUBLE) * sxx - sx * sx)) * sx)
      |    / CAST(n AS DOUBLE)) / 100.0 AS intercept
      |FROM m""".stripMargin

  // ------------------------------------------------------------------
  // q57: fuzzy entity matching via blocking + edit distance — the
  // standard entity-resolution shape at scale: a cheap blocking key
  // (name suffix) bounds the candidate pairs to within-block, so the
  // O(n²) levenshtein only runs inside small blocks (shuffle on the
  // blocking key, never a global cross join). Both engines implement
  // classic Wagner–Fischer levenshtein → identical integer distances.
  // ------------------------------------------------------------------
  def q57FuzzyMatch(spark: SparkSession, dir: String): DataFrame = {
    val c = Tables.customer(spark, dir)
      .select(col("c_custkey"), col("c_name"),
        substring(col("c_name"), -3, 3).as("blk"))
    val c2 = c.select(col("c_custkey").as("c2_custkey"),
      col("c_name").as("c2_name"), col("blk"))
    c.join(c2, Seq("blk"))
      .filter(col("c_custkey") < col("c2_custkey"))
      .withColumn("dist", levenshtein(col("c_name"), col("c2_name")).cast(LongType))
      .filter(col("dist") <= 2)
      .groupBy(col("dist"))
      .agg(count(lit(1)).as("n_pairs"),
        min(col("c_custkey")).as("min_key"),
        max(col("c2_custkey")).as("max_key"))
  }

  val q57Sql: String =
    """SELECT levenshtein(a.c_name, b.c_name) AS dist, COUNT(*) AS n_pairs,
      |  MIN(a.c_custkey) AS min_key, MAX(b.c_custkey) AS max_key
      |FROM customer a JOIN customer b
      |  ON right(a.c_name, 3) = right(b.c_name, 3)
      | AND a.c_custkey < b.c_custkey
      |WHERE levenshtein(a.c_name, b.c_name) <= 2
      |GROUP BY 1""".stripMargin

  // ------------------------------------------------------------------
  // q158: entity resolution via blocking + Jaro-Winkler — q57's edit-
  // distance dual with the name-similarity measure record-linkage
  // actually standardizes on (Winkler 1990). Spark has no native
  // jaro_winkler, so this runs the compiled
  // [[graft.functions.JaroWinklerExpression]] kernel — pinned
  // BIT-EXACT to DuckDB's `jaro_winkler_similarity` (empirical 50k-
  // pair sweep; the one semantic trap is floored half-transpositions).
  // Blocking on (first word, lead char of second word) bounds the
  // quadratic inside small blocks; per-block similarity sums travel as
  // exact integer 1e4-units. Same one-shuffle-per-side + final-agg
  // shape as q57 at any scale.
  // ------------------------------------------------------------------
  def q158EntityResolution(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.StringSimilarityFunctions.jaroWinkler
    val p = Tables.part(spark, dir).select(
      col("p_partkey"), col("p_name"),
      split(col("p_name"), " ").getItem(0).as("adj"),
      substring(split(col("p_name"), " ").getItem(1), 1, 1).as("b2"))
    val b = p.select(col("p_partkey").as("k2"), col("p_name").as("n2"),
      col("adj"), col("b2"))
    val jw = jaroWinkler(col("p_name"), col("n2"))
    // The jw >= 0.85 cut folds into CONDITIONAL aggregates instead of a
    // Filter: a filter on a projected kernel column gets pushed into the
    // join condition AND re-projected above it, so the optimizer
    // evaluates the kernel TWICE per pair (round-16 plan audit; 91.7%
    // of blocked pairs pass the cut, so the duplication was nearly 2×
    // the whole kernel cost). Here jw is computed ONCE in the
    // projection; groups with no qualifying pair are dropped post-agg,
    // which is exactly the group set the filtered form produced.
    p.join(b, Seq("adj", "b2"))
      .filter(col("p_partkey") < col("k2"))
      .select(col("adj"), jw.as("jw"))
      .groupBy(col("adj"))
      .agg(sum(when(col("jw") >= 0.85, 1L).otherwise(0L)).as("n_pairs"),
        sum(when(col("jw") === 1.0, 1L).otherwise(0L)).as("n_exact"),
        sum(when(col("jw") >= 0.85, round(col("jw") * 10000.0).cast(LongType))
          .otherwise(0L)).as("s4"))
      .filter(col("n_pairs") > 0)
      .select(col("adj"), col("n_pairs"), col("n_exact"),
        round(col("s4").cast(DoubleType) / col("n_pairs").cast(DoubleType)
          / 10000.0, 4).as("avg_jw"))
  }

  val q158Sql: String =
    """WITH p AS (
      |  SELECT p_partkey, p_name,
      |    string_split(p_name, ' ')[1] AS adj,
      |    substr(string_split(p_name, ' ')[2], 1, 1) AS b2
      |  FROM part),
      |pairs AS (
      |  SELECT a.adj, jaro_winkler_similarity(a.p_name, b.p_name) AS jw
      |  FROM p a JOIN p b ON a.adj = b.adj AND a.b2 = b.b2
      |    AND a.p_partkey < b.p_partkey
      |  WHERE jaro_winkler_similarity(a.p_name, b.p_name) >= 0.85)
      |SELECT adj, CAST(COUNT(*) AS BIGINT) AS n_pairs,
      |  CAST(SUM(CASE WHEN jw = 1.0 THEN 1 ELSE 0 END) AS BIGINT) AS n_exact,
      |  round(CAST(SUM(CAST(round(jw * 10000.0) AS BIGINT)) AS DOUBLE)
      |    / CAST(COUNT(*) AS DOUBLE) / 10000.0, 4) AS avg_jw
      |FROM pairs GROUP BY adj""".stripMargin

  // ------------------------------------------------------------------
  // q58: z-score anomaly detection — two-pass: (1) one aggregation pass
  // computes exact per-group moments, (2) the tiny moment table is
  // BROADCAST back onto the fact scan to flag outliers, so the second
  // pass is shuffle-free. Squared-deviation test ((x−μ)² > k²·σ²)
  // avoids sqrt entirely — exact closed-form doubles both engines.
  // Population variance: σ² = (nΣx² − (Σx)²) / n².
  // ------------------------------------------------------------------
  def q58AnomalyZscore(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
    val x = dec(col("value"))
    val moments = ev.groupBy(col("event_type")).agg(
      count(lit(1)).as("n"),
      sum(x).cast(DoubleType).as("sx"),
      sum(x * x).cast(DoubleType).as("sxx"))
    val n = col("n").cast(DoubleType)
    val stats = moments.select(
      col("event_type").as("mt"),
      (col("sx") / n).as("mean"),
      ((n * col("sxx") - col("sx") * col("sx")) / (n * n)).as("variance"))
    ev.join(broadcast(stats), col("event_type") === col("mt"))
      .withColumn("dev", col("value") - col("mean"))
      .filter(col("dev") * col("dev") > lit(4.0) * col("variance"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_outliers"),
        sum(dec(col("value"))).cast(DoubleType).as("sum_outlier_value"),
        min(col("event_id")).as("min_outlier_id"))
  }

  val q58Sql: String =
    """WITH m AS (
      |  SELECT event_type, COUNT(*) AS n,
      |    CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sx,
      |    CAST(SUM(CAST(value AS DECIMAL(18,4)) * CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sxx
      |  FROM events GROUP BY event_type),
      |s AS (
      |  SELECT event_type AS mt, sx / CAST(n AS DOUBLE) AS mean,
      |    (CAST(n AS DOUBLE) * sxx - sx * sx) / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)) AS variance
      |  FROM m)
      |SELECT event_type, COUNT(*) AS n_outliers,
      |  CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sum_outlier_value,
      |  MIN(event_id) AS min_outlier_id
      |FROM events JOIN s ON event_type = mt
      |WHERE (value - mean) * (value - mean) > 4.0 * variance
      |GROUP BY event_type""".stripMargin

  // ------------------------------------------------------------------
  // q78: equi-width histogram profiling — the distribution summary a
  // data-quality dashboard wants for every numeric column. Two passes:
  // a tiny (min,max) aggregate COLLECTED to the driver (2 longs), then
  // a literal-only integer bucket assignment + count — no join in the
  // big-table pass at all, and the shuffle is ≤20 partial-count rows
  // per task regardless of table size. All-bigint arithmetic (width
  // rounds UP via truncating division + 1) so bucket edges are
  // bit-identical cross-engine.
  // ------------------------------------------------------------------
  def q78Histogram(spark: SparkSession, dir: String): DataFrame = {
    val nBins = 20L
    val row = Tables.documents(spark, dir)
      .agg(min(col("n_chars")).as("lo"), max(col("n_chars")).as("hi")).head()
    val (lo, hi) = (row.getLong(0), row.getLong(1))
    val width = (hi - lo) / nBins + 1 // positive longs: truncation = floor
    Tables.documents(spark, dir)
      .withColumn("bucket", expr(s"(n_chars - $lo) div $width"))
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n_docs"))
      .withColumn("bucket_lo", lit(lo) + col("bucket") * width)
      .withColumn("bucket_hi", lit(lo) + (col("bucket") + 1) * width - 1)
  }

  val q78Sql: String =
    """WITH b AS (
      |  SELECT CAST(MIN(n_chars) AS BIGINT) AS lo, CAST(MAX(n_chars) AS BIGINT) AS hi
      |  FROM documents),
      |w AS (SELECT lo, hi, (hi - lo) // 20 + 1 AS width FROM b)
      |SELECT (n_chars - lo) // width AS bucket,
      |  CAST(COUNT(*) AS BIGINT) AS n_docs,
      |  CAST(MIN(lo + ((n_chars - lo) // width) * width) AS BIGINT) AS bucket_lo,
      |  CAST(MIN(lo + ((n_chars - lo) // width + 1) * width - 1) AS BIGINT) AS bucket_hi
      |FROM documents CROSS JOIN w
      |GROUP BY 1""".stripMargin

  // ------------------------------------------------------------------
  // q87: robust outliers via median absolute deviation — the outlier
  // screen that survives the contamination that wrecks z-scores (one
  // extreme value inflates mean AND variance; the median/MAD pair is
  // 50%-breakdown robust). Two grouped EXACT percentile aggregates
  // (median of value, then median of |value − median|) with the tiny
  // per-group stats riding broadcasts back onto the scan — the fact
  // table itself never shuffles, the same second-pass shape as q58.
  // Exact percentile holds per-group values in memory: right for the
  // oracle gate; the 100 TB path swaps in percentile_approx
  // (TableStatistics' sketch) with identical plan shape.
  // ------------------------------------------------------------------
  def q87MadOutliers(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
    val med = ev.groupBy(col("event_type"))
      .agg(expr("percentile(value, 0.5)").as("med"))
      .withColumnRenamed("event_type", "mt")
    val withDev = ev.join(broadcast(med), col("event_type") === col("mt"))
      .withColumn("adev", abs(col("value") - col("med")))
    val mad = withDev.groupBy(col("event_type"))
      .agg(expr("percentile(adev, 0.5)").as("mad"))
      .withColumnRenamed("event_type", "dt")
    withDev.join(broadcast(mad), col("event_type") === col("dt"))
      .filter(col("adev") > lit(3.0) * col("mad"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_outliers"),
        sum(dec(col("value"))).cast(DoubleType).as("sum_outlier_value"),
        min(col("event_id")).as("min_outlier_id"))
  }

  val q87Sql: String =
    """WITH med AS (
      |  SELECT event_type AS mt, quantile_cont(value, 0.5) AS med
      |  FROM events GROUP BY event_type),
      |dev AS (
      |  SELECT e.*, abs(e.value - m.med) AS adev
      |  FROM events e JOIN med m ON e.event_type = m.mt),
      |mad AS (
      |  SELECT event_type AS dt, quantile_cont(adev, 0.5) AS mad
      |  FROM dev GROUP BY event_type)
      |SELECT d.event_type, COUNT(*) AS n_outliers,
      |  CAST(SUM(CAST(d.value AS DECIMAL(18,4))) AS DOUBLE) AS sum_outlier_value,
      |  MIN(d.event_id) AS min_outlier_id
      |FROM dev d JOIN mad ON d.event_type = mad.dt
      |WHERE d.adev > 3.0 * mad.mad
      |GROUP BY d.event_type""".stripMargin

  // ------------------------------------------------------------------
  // q88: bigram collocations by PMI lift — the corpus-analytics query
  // behind phrase mining and tokenizer-vocabulary induction. Bigrams
  // come from a PER-ROW zip of adjacent tokens (zero shuffle until the
  // count aggregation, where map-side partials collapse repeated
  // bigrams before the exchange); unigram counts and the two corpus
  // totals are small aggregates joined back. Scoring uses the RATIONAL
  // lift p(ab)/(p(a)p(b)) rather than its log (q70's rule: libm `ln`
  // is not bit-portable, rational-of-counts doubles are; ordering is
  // unchanged), rounded 4 dp, ties broken lexicographically.
  // ------------------------------------------------------------------
  def q88BigramPmi(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(spark, dir)
      .select(split(col("text"), " ").as("w"))
    val pairs = d.filter(size(col("w")) >= 2)
      .select(explode(expr(
        "transform(sequence(0, size(w) - 2), i -> struct(w[i] AS a, w[i+1] AS b))"))
        .as("z"))
      .select(col("z.a"), col("z.b"))
      .filter(col("a") =!= "" && col("b") =!= "")
    val bg = pairs.groupBy(col("a"), col("b")).agg(count(lit(1)).as("c"))
    val uc = d.select(explode(col("w")).as("t")).filter(col("t") =!= "")
      .groupBy(col("t")).agg(count(lit(1)).as("cu"))
    val totals = uc.agg(sum(col("cu")).as("n"))
      .crossJoin(bg.agg(sum(col("c")).as("mm")))
    // the unigram vocabulary is bounded (≪ corpus size) — broadcast it
    // so the bigram-count side never reshuffles for the two lookups
    val scored = bg
      .join(broadcast(uc.select(col("t").as("ta"), col("cu").as("ca"))), col("a") === col("ta"))
      .join(broadcast(uc.select(col("t").as("tb"), col("cu").as("cb"))), col("b") === col("tb"))
      .crossJoin(broadcast(totals))
      .filter(col("c") >= 20)
      .withColumn("lift", round(
        (col("c").cast(DoubleType) / col("mm").cast(DoubleType)) /
          ((col("ca").cast(DoubleType) / col("n").cast(DoubleType)) *
            (col("cb").cast(DoubleType) / col("n").cast(DoubleType))), 4))
    scored.select(concat_ws(" ", col("a"), col("b")).as("bigram"),
        col("c").as("n_pair"), col("lift"))
      .orderBy(col("lift").desc, col("bigram").asc)
      .limit(20)
  }

  val q88Sql: String =
    """WITH d AS (SELECT doc_id, string_split(text,' ') AS w FROM documents),
      |pairs AS (
      |  SELECT unnest(list_zip(list_slice(w, 1, len(w)-1), list_slice(w, 2, len(w)))) AS z
      |  FROM d WHERE len(w) >= 2),
      |bg AS (SELECT z[1] AS a, z[2] AS b, COUNT(*) AS c
      |  FROM pairs WHERE z[1] <> '' AND z[2] <> '' GROUP BY 1, 2),
      |uni AS (SELECT unnest(w) AS t FROM d),
      |uc AS (SELECT t, COUNT(*) AS cu FROM uni WHERE t <> '' GROUP BY t),
      |tot AS (SELECT CAST(SUM(cu) AS BIGINT) AS n FROM uc),
      |m AS (SELECT CAST(SUM(c) AS BIGINT) AS mm FROM bg)
      |SELECT bg.a || ' ' || bg.b AS bigram, bg.c AS n_pair,
      |  round((CAST(bg.c AS DOUBLE) / CAST(mm AS DOUBLE)) /
      |    ((CAST(ua.cu AS DOUBLE) / CAST(n AS DOUBLE)) * (CAST(ub.cu AS DOUBLE) / CAST(n AS DOUBLE))), 4) AS lift
      |FROM bg JOIN uc ua ON bg.a = ua.t JOIN uc ub ON bg.b = ub.t
      |CROSS JOIN tot CROSS JOIN m
      |WHERE bg.c >= 20
      |ORDER BY lift DESC, bigram ASC LIMIT 20""".stripMargin

  // ------------------------------------------------------------------
  // q92: daily percentile bands (P50/P90/P99) per event type — the SLO
  // dashboard query. Exact grouped percentiles (q53's bit-parity rule:
  // Spark `percentile` ≡ DuckDB `quantile_cont`, identical linear
  // interpolation) in ONE aggregation pass per (type, day): group count
  // is days × types, so the exact-percentile state stays tiny while the
  // scan parallelizes fully. At raw 100 TB grain the same plan swaps in
  // percentile_approx sketches (partial-aggregable) unchanged.
  // ------------------------------------------------------------------
  def q92PercentileBands(spark: SparkSession, dir: String): DataFrame =
    q92Bands(spark, dir, p => s"percentile(value, $p)")

  /** 100 TB variant of q92: swaps the exact per-group percentile state
    * for `percentile_approx`'s mergeable KLL-style sketch (partial-
    * aggregable, bounded memory per group regardless of group size).
    * The oracle gates the exact plan; SketchStatsSpec bounds this
    * plan's error against it. */
  private[graft] def q92PercentileBandsSketch(spark: SparkSession, dir: String): DataFrame =
    q92Bands(spark, dir, p => s"percentile_approx(value, $p, 2500)")

  private def q92Bands(spark: SparkSession, dir: String,
      pctSql: Double => String): DataFrame = {
    def pct(p: Double, n: String): Column = round(expr(pctSql(p)), 4).as(n)
    Tables.events(spark, dir)
      .groupBy(col("event_type"), to_date(col("ts")).as("day"))
      .agg(count(lit(1)).as("n"),
        pct(0.5, "p50"), pct(0.9, "p90"), pct(0.99, "p99"))
  }

  val q92Sql: String =
    """SELECT event_type, CAST(ts AS DATE) AS day, COUNT(*) AS n,
      |  round(quantile_cont(value, 0.5), 4) AS p50,
      |  round(quantile_cont(value, 0.9), 4) AS p90,
      |  round(quantile_cont(value, 0.99), 4) AS p99
      |FROM events
      |GROUP BY event_type, CAST(ts AS DATE)""".stripMargin

  // ------------------------------------------------------------------
  // q94: data-quality drift monitor — per-day profile (volume, null
  // rate of the payload field, distinct event types, value bounds)
  // flagged against the corpus-wide profile. The daily profile is one
  // grouped pass; the corpus profile is one row broadcast back; the
  // drift flag is pure integer arithmetic (a day drifts when its
  // scaled null-permille differs from the corpus by > 20). This is
  // the sync-health check an ELT cache runs after every load; all
  // decisions integer-exact, so both engines flag identical days.
  // ------------------------------------------------------------------
  def q94QualityDrift(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
      .withColumn("day", to_date(col("ts")))
    val daily = ev.groupBy(col("day")).agg(
      count(lit(1)).as("n"),
      sum(when(col("props").isNull, 1L).otherwise(0L)).as("n_null_props"),
      countDistinct(col("event_type")).as("n_types"),
      round(min(col("value")), 4).as("min_value"),
      round(max(col("value")), 4).as("max_value"))
    val corpus = daily.agg(
      sum(col("n")).as("tn"), sum(col("n_null_props")).as("tnull"))
    daily.crossJoin(broadcast(corpus))
      // integer div both engines — Spark's `/` on longs yields double
      .withColumn("day_permille", expr("n_null_props * 1000 div n"))
      .withColumn("corpus_permille", expr("tnull * 1000 div tn"))
      .withColumn("drifted",
        abs(col("day_permille") - col("corpus_permille")) > 20L)
      .select(col("day"), col("n"), col("n_null_props"), col("n_types"),
        col("min_value"), col("max_value"), col("day_permille"), col("drifted"))
  }

  val q94Sql: String =
    """WITH daily AS (
      |  SELECT CAST(ts AS DATE) AS day, COUNT(*) AS n,
      |    CAST(SUM(CASE WHEN props IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_null_props,
      |    CAST(COUNT(DISTINCT event_type) AS BIGINT) AS n_types,
      |    round(MIN(value), 4) AS min_value,
      |    round(MAX(value), 4) AS max_value
      |  FROM events GROUP BY 1),
      |corpus AS (
      |  SELECT CAST(SUM(n) AS BIGINT) AS tn,
      |    CAST(SUM(n_null_props) AS BIGINT) AS tnull
      |  FROM daily)
      |SELECT day, n, n_null_props, n_types, min_value, max_value,
      |  n_null_props * 1000 // n AS day_permille,
      |  abs(n_null_props * 1000 // n - tnull * 1000 // tn) > 20 AS drifted
      |FROM daily CROSS JOIN corpus""".stripMargin

  // ------------------------------------------------------------------
  // q186: exact two-sample Kolmogorov–Smirnov drift test — each event
  // type's value distribution vs the 'view' baseline, D = sup_x
  // |F_t(x) − F_base(x)|. Values carry ≤2 decimals, so ×100 round-trips
  // to exact integers and the statistic is computed as an INTEGER
  // numerator max|cum_t·n_base − cum_base·n_t| (cross-multiplied CDFs —
  // no float comparison decides the max), divided once at the end.
  //
  // 100 TB shape: the corpus collapses to (type, value-point) counts in
  // one map-side-combined agg; everything after is value-domain-sized,
  // not corpus-sized. The CDF prefix-sum deliberately avoids the
  // single-partition trap of an unpartitioned ordered window via the
  // two-level idiom: per-(pair, bucket) subtotals get a per-pair
  // running offset (window over ≤ domain/W bucket rows), broadcast
  // back, and the within-bucket cumsum windows over ≤ W value-points
  // per partition — both window inputs are bounded by the VALUE DOMAIN
  // regardless of row count. The baseline fans out via a broadcast of
  // the (tiny, data-derived) non-baseline type list.
  // ------------------------------------------------------------------
  def q186KsDrift(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val ev = Tables.events(spark, dir)
      .select(col("event_type"), round(col("value") * 100).cast(LongType).as("v"))
    val pts = ev.groupBy(col("event_type"), col("v")).agg(count(lit(1)).as("cnt"))
      .localCheckpoint() // reused: own side, baseline fan-out, type list
    val others = pts.select(col("event_type")).distinct()
      .filter(col("event_type") =!= "view")
    val tagged = pts.filter(col("event_type") =!= "view")
      .select(col("event_type"), col("v"), col("cnt").as("c1"), lit(0L).as("c0"))
      .unionByName(pts.filter(col("event_type") === "view")
        .select(col("v"), col("cnt"))
        .crossJoin(broadcast(others))
        .select(col("event_type"), col("v"), lit(0L).as("c1"), col("cnt").as("c0")))
    val merged = tagged.groupBy(col("event_type"), col("v"))
      .agg(sum(col("c1")).as("c1"), sum(col("c0")).as("c0"))
      .withColumn("b", expr("v div 1024"))
      .localCheckpoint() // reused: bucket subtotals, cumsum, pair totals
    val bucketTot = merged.groupBy(col("event_type"), col("b"))
      .agg(sum(col("c1")).as("bs1"), sum(col("c0")).as("bs0"))
    val wOff = Window.partitionBy(col("event_type")).orderBy(col("b"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val offsets = bucketTot.select(col("event_type"), col("b"),
      coalesce(sum(col("bs1")).over(wOff), lit(0L)).as("off1"),
      coalesce(sum(col("bs0")).over(wOff), lit(0L)).as("off0"))
    val wIn = Window.partitionBy(col("event_type"), col("b")).orderBy(col("v"))
    val cum = merged.join(broadcast(offsets), Seq("event_type", "b"))
      .select(col("event_type"), col("v"),
        (col("off1") + sum(col("c1")).over(wIn)).as("cum1"),
        (col("off0") + sum(col("c0")).over(wIn)).as("cum0"))
    val tot = merged.groupBy(col("event_type"))
      .agg(sum(col("c1")).as("n"), sum(col("c0")).as("n_base"))
    cum.join(broadcast(tot), "event_type")
      .groupBy(col("event_type"), col("n"), col("n_base"))
      .agg(max(abs(col("cum1") * col("n_base") - col("cum0") * col("n"))).as("d_num"))
      .select(col("event_type"), col("n"), col("n_base"), col("d_num"),
        round(col("d_num").cast(DoubleType) /
          (col("n") * col("n_base")).cast(DoubleType), 6).as("d_stat"))
  }

  val q186Sql: String =
    """WITH ev AS (
      |  SELECT event_type, CAST(round(value * 100) AS BIGINT) AS v FROM events),
      |pts AS (SELECT event_type, v, COUNT(*) AS cnt FROM ev GROUP BY 1, 2),
      |others AS (SELECT DISTINCT event_type FROM pts WHERE event_type <> 'view'),
      |tagged AS (
      |  SELECT event_type, v, cnt AS c1, 0 AS c0 FROM pts WHERE event_type <> 'view'
      |  UNION ALL
      |  SELECT o.event_type, p.v, 0 AS c1, p.cnt AS c0
      |  FROM pts p CROSS JOIN others o WHERE p.event_type = 'view'),
      |merged AS (
      |  SELECT event_type, v, CAST(SUM(c1) AS BIGINT) AS c1,
      |    CAST(SUM(c0) AS BIGINT) AS c0
      |  FROM tagged GROUP BY 1, 2),
      |cum AS (
      |  SELECT event_type, v,
      |    CAST(SUM(c1) OVER (PARTITION BY event_type ORDER BY v) AS BIGINT) AS cum1,
      |    CAST(SUM(c0) OVER (PARTITION BY event_type ORDER BY v) AS BIGINT) AS cum0
      |  FROM merged),
      |tot AS (
      |  SELECT event_type, CAST(SUM(c1) AS BIGINT) AS n,
      |    CAST(SUM(c0) AS BIGINT) AS n_base
      |  FROM merged GROUP BY 1)
      |SELECT c.event_type, t.n, t.n_base,
      |  CAST(MAX(abs(cum1 * t.n_base - cum0 * t.n)) AS BIGINT) AS d_num,
      |  round(CAST(MAX(abs(cum1 * t.n_base - cum0 * t.n)) AS DOUBLE)
      |        / CAST(t.n * t.n_base AS DOUBLE), 6) AS d_stat
      |FROM cum c JOIN tot t ON c.event_type = t.event_type
      |GROUP BY 1, 2, 3""".stripMargin

  // ------------------------------------------------------------------
  // q188: inter-annotator agreement — Cohen's κ per language between
  // two deterministic document annotators (label-noise assessment for
  // curation-filter ensembles; Cohen 1960). Annotator A is a length
  // gate (≥ 10 whitespace tokens), annotator B a stopword-density gate
  // (5·hits ≥ tokens, i.e. ratio ≥ 0.2) — both integer predicates, so
  // the confusion matrix is exact in both engines. κ itself is the
  // only float step: po = (n11+n00)/n, pe = pA·pB + (1−pA)(1−pB),
  // κ = (po − pe)/(1 − pe), written with identical IEEE structure in
  // SQL, null when pe = 1 (degenerate marginals).
  //
  // 100 TB: a zero-shuffle per-row kernel feeding ONE partial-agg
  // pass — the per-lang confusion counts combine map-side, so the
  // exchange moves ~|langs| rows. Same shape as q56's moment pass.
  // ------------------------------------------------------------------
  def q188AnnotatorAgreement(spark: SparkSession, dir: String): DataFrame = {
    import graft.operators.TextAnalysis
    val nTok = TextAnalysis.tokenCount(col("text")).cast(LongType)
    val sw = TextAnalysis.markerHits(col("text"), LlmQueries.Stopwords).cast(LongType)
    val a = when(nTok >= 10L, 1L).otherwise(0L)
    val b = when(sw * 5L >= nTok, 1L).otherwise(0L)
    // CPU-dense per-row labeling: spread an under-partitioned input
    // (one small parquet file = one split = one task) across the cores;
    // at real scale the scan has enough splits and this is a no-op
    val docs = Tables.documents(spark, dir)
    val cores = spark.sparkContext.defaultParallelism
    val spread = if (docs.rdd.getNumPartitions * 2 < cores)
      docs.repartition(cores) else docs
    val counts = spread
      .select(col("lang"), a.as("a"), b.as("b"))
      .groupBy(col("lang")).agg(
        count(lit(1)).as("n_docs"),
        sum(col("a") * col("b")).as("n11"),
        sum(col("a") * (lit(1L) - col("b"))).as("n10"),
        sum((lit(1L) - col("a")) * col("b")).as("n01"),
        sum((lit(1L) - col("a")) * (lit(1L) - col("b"))).as("n00"))
    val n = col("n_docs").cast(DoubleType)
    val po = (col("n11") + col("n00")).cast(DoubleType) / n
    val pA = (col("n11") + col("n10")).cast(DoubleType) / n
    val pB = (col("n11") + col("n01")).cast(DoubleType) / n
    val pe = pA * pB + (lit(1.0d) - pA) * (lit(1.0d) - pB)
    counts.select(
      col("lang"), col("n_docs"), col("n11"), col("n10"), col("n01"), col("n00"),
      when(lit(1.0d) - pe =!= 0.0d,
        round((po - pe) / (lit(1.0d) - pe), 6)).as("kappa"))
  }

  val q188Sql: String = {
    val sw = LlmQueries.Stopwords.map(s => s"'$s'").mkString(", ")
    s"""WITH lab AS (
       |  SELECT lang,
       |    CASE WHEN len(string_split(text, ' ')) >= 10 THEN 1 ELSE 0 END AS a,
       |    CASE WHEN len(list_filter(string_split(text, ' '), w -> w IN ($sw))) * 5
       |              >= len(string_split(text, ' ')) THEN 1 ELSE 0 END AS b
       |  FROM documents),
       |cm AS (
       |  SELECT lang, COUNT(*) AS n_docs,
       |    CAST(SUM(a * b) AS BIGINT) AS n11,
       |    CAST(SUM(a * (1 - b)) AS BIGINT) AS n10,
       |    CAST(SUM((1 - a) * b) AS BIGINT) AS n01,
       |    CAST(SUM((1 - a) * (1 - b)) AS BIGINT) AS n00
       |  FROM lab GROUP BY lang)
       |SELECT lang, n_docs, n11, n10, n01, n00,
       |  CASE WHEN 1.0 - ((CAST(n11 + n10 AS DOUBLE) / CAST(n_docs AS DOUBLE))
       |                     * (CAST(n11 + n01 AS DOUBLE) / CAST(n_docs AS DOUBLE))
       |                   + (1.0 - CAST(n11 + n10 AS DOUBLE) / CAST(n_docs AS DOUBLE))
       |                     * (1.0 - CAST(n11 + n01 AS DOUBLE) / CAST(n_docs AS DOUBLE))) <> 0.0
       |  THEN round(((CAST(n11 + n00 AS DOUBLE) / CAST(n_docs AS DOUBLE))
       |              - ((CAST(n11 + n10 AS DOUBLE) / CAST(n_docs AS DOUBLE))
       |                   * (CAST(n11 + n01 AS DOUBLE) / CAST(n_docs AS DOUBLE))
       |                 + (1.0 - CAST(n11 + n10 AS DOUBLE) / CAST(n_docs AS DOUBLE))
       |                   * (1.0 - CAST(n11 + n01 AS DOUBLE) / CAST(n_docs AS DOUBLE))))
       |             / (1.0 - ((CAST(n11 + n10 AS DOUBLE) / CAST(n_docs AS DOUBLE))
       |                   * (CAST(n11 + n01 AS DOUBLE) / CAST(n_docs AS DOUBLE))
       |                 + (1.0 - CAST(n11 + n10 AS DOUBLE) / CAST(n_docs AS DOUBLE))
       |                   * (1.0 - CAST(n11 + n01 AS DOUBLE) / CAST(n_docs AS DOUBLE)))), 6)
       |  ELSE NULL END AS kappa
       |FROM cm""".stripMargin
  }

  // ------------------------------------------------------------------
  // q197: exact ROC AUC of the `value` score separating each event
  // type from the 'view' baseline — the Mann–Whitney U rank statistic
  // (Mann & Whitney 1947) in tie-aware integer form: with per-value
  // counts c1 (positives at v) and cum0 (negatives at ≤ v),
  // 2·U = Σ_v c1·(2·cum0 − c0), AUC = U / (P·N). The tie term c0/2 is
  // carried doubled so NO float enters until the single final division
  // (q186's convention). An AUC near 0.5 here is the correct reading:
  // the synthetic value distributions barely separate — this is the
  // classifier-evaluation primitive, fed by real scores in production.
  //
  // 100 TB shape (shared with q186): corpus → (type, value-point)
  // counts in one map-side-combined agg; baseline fan-out broadcasts
  // the tiny type list; cum0 via the two-level bucket idiom so both
  // window inputs stay value-domain-bounded; final U is one more
  // domain-sized agg. BIGINT products bound the regime to
  // P·N < 2^63 per pair — beyond that the U accumulator moves to
  // DECIMAL(38,0), the plan unchanged.
  // ------------------------------------------------------------------
  def q197Auc(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val ev = Tables.events(spark, dir)
      .select(col("event_type"), round(col("value") * 100).cast(LongType).as("v"))
    val pts = ev.groupBy(col("event_type"), col("v")).agg(count(lit(1)).as("cnt"))
      .localCheckpoint() // reused: own side, baseline fan-out, type list
    val others = pts.select(col("event_type")).distinct()
      .filter(col("event_type") =!= "view")
    val tagged = pts.filter(col("event_type") =!= "view")
      .select(col("event_type"), col("v"), col("cnt").as("c1"), lit(0L).as("c0"))
      .unionByName(pts.filter(col("event_type") === "view")
        .select(col("v"), col("cnt"))
        .crossJoin(broadcast(others))
        .select(col("event_type"), col("v"), lit(0L).as("c1"), col("cnt").as("c0")))
    val merged = tagged.groupBy(col("event_type"), col("v"))
      .agg(sum(col("c1")).as("c1"), sum(col("c0")).as("c0"))
      .withColumn("b", expr("v div 1024"))
      .localCheckpoint() // reused: bucket subtotals, cumsum, pair totals
    val bucketTot = merged.groupBy(col("event_type"), col("b"))
      .agg(sum(col("c0")).as("bs0"))
    val wOff = Window.partitionBy(col("event_type")).orderBy(col("b"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val offsets = bucketTot.select(col("event_type"), col("b"),
      coalesce(sum(col("bs0")).over(wOff), lit(0L)).as("off0"))
    val wIn = Window.partitionBy(col("event_type"), col("b")).orderBy(col("v"))
    val cum = merged.join(broadcast(offsets), Seq("event_type", "b"))
      .select(col("event_type"), col("v"), col("c1"), col("c0"),
        (col("off0") + sum(col("c0")).over(wIn)).as("cum0"))
    val tot = merged.groupBy(col("event_type"))
      .agg(sum(col("c1")).as("pos_n"), sum(col("c0")).as("neg_n"))
    cum.join(broadcast(tot), "event_type")
      .groupBy(col("event_type"), col("pos_n"), col("neg_n"))
      .agg(sum(col("c1") * (col("cum0") * 2L - col("c0"))).as("u2"))
      .select(col("event_type"), col("pos_n"), col("neg_n"), col("u2"),
        round(col("u2").cast(DoubleType) /
          (col("pos_n") * col("neg_n") * 2L).cast(DoubleType), 6).as("auc"))
  }

  val q197Sql: String =
    """WITH ev AS (
      |  SELECT event_type, CAST(round(value * 100) AS BIGINT) AS v FROM events),
      |pts AS (SELECT event_type, v, COUNT(*) AS cnt FROM ev GROUP BY 1, 2),
      |others AS (SELECT DISTINCT event_type FROM pts WHERE event_type <> 'view'),
      |tagged AS (
      |  SELECT event_type, v, cnt AS c1, 0 AS c0 FROM pts WHERE event_type <> 'view'
      |  UNION ALL
      |  SELECT o.event_type, p.v, 0 AS c1, p.cnt AS c0
      |  FROM pts p CROSS JOIN others o WHERE p.event_type = 'view'),
      |merged AS (
      |  SELECT event_type, v, CAST(SUM(c1) AS BIGINT) AS c1,
      |    CAST(SUM(c0) AS BIGINT) AS c0
      |  FROM tagged GROUP BY 1, 2),
      |cum AS (
      |  SELECT event_type, v, c1, c0,
      |    CAST(SUM(c0) OVER (PARTITION BY event_type ORDER BY v) AS BIGINT) AS cum0
      |  FROM merged),
      |tot AS (
      |  SELECT event_type, CAST(SUM(c1) AS BIGINT) AS pos_n,
      |    CAST(SUM(c0) AS BIGINT) AS neg_n
      |  FROM merged GROUP BY 1)
      |SELECT c.event_type, t.pos_n, t.neg_n,
      |  CAST(SUM(c1 * (cum0 * 2 - c0)) AS BIGINT) AS u2,
      |  round(CAST(SUM(c1 * (cum0 * 2 - c0)) AS DOUBLE)
      |    / CAST(t.pos_n * t.neg_n * 2 AS DOUBLE), 6) AS auc
      |FROM cum c JOIN tot t ON c.event_type = t.event_type
      |GROUP BY 1, 2, 3""".stripMargin

  // ------------------------------------------------------------------
  // q201: per-source quantile normalization — each event type's value
  // distribution is remapped onto the POOLED distribution by exact
  // ECDF inverse transform (the quantile-normalization operator of
  // Bolstad et al. 2003, re-expressed rank-exactly): for a type-t
  // value v, norm(v) = min{ v' : cumPool(v') * n_t >= cum_t(v) * N }.
  // The cross-multiplied inequality keeps every comparison in BIGINT —
  // no quantile fraction is ever materialized as a float. This is the
  // calibration step that makes per-source quality thresholds
  // comparable before mixing corpora.
  //
  // 100 TB shape: ONE corpus-sized (type, value-point) tally; CDFs via
  // the two-level bucket idiom (q186); the pooled CDF's bucket-offset
  // window runs over the ~domain/1024-row bucket list. The rank lookup
  // is a per-type ORDERED MERGE of two domain-sized CDFs — pooled rows
  // fan out behind a broadcast, and a first-following-pooled window
  // partitioned by (type) resolves min-v'-satisfying in one pass, so
  // nothing quadratic and nothing corpus-sized enters a window.
  // BIGINT regime: cum * N products need n_t * N < 2^63 per type —
  // beyond that the keys move to DECIMAL(38,0), the plan unchanged.
  // ------------------------------------------------------------------
  def q201QuantileNormalize(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val ev = Tables.events(spark, dir)
      .select(col("event_type"), round(col("value") * 100).cast(LongType).as("v"))
    val pts = ev.groupBy(col("event_type"), col("v")).agg(count(lit(1)).as("cnt"))
      .localCheckpoint() // reused: per-type CDF, pooled CDF, totals
    // per-type CDF (two-level: bucket offsets + within-bucket cumsum)
    val merged = pts.withColumn("b", expr("v div 1024"))
    val wOffT = Window.partitionBy(col("event_type")).orderBy(col("b"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val offT = merged.groupBy(col("event_type"), col("b"))
      .agg(sum(col("cnt")).as("bs"))
      .select(col("event_type"), col("b"),
        coalesce(sum(col("bs")).over(wOffT), lit(0L)).as("off"))
    val wInT = Window.partitionBy(col("event_type"), col("b")).orderBy(col("v"))
    val cumT = merged.join(broadcast(offT), Seq("event_type", "b"))
      .select(col("event_type"), col("v"),
        (col("off") + sum(col("cnt")).over(wInT)).as("cum"))
    // pooled CDF (same idiom; the offset window rides the tiny bucket list)
    val pooled = pts.groupBy(col("v")).agg(sum(col("cnt")).as("pcnt"))
      .withColumn("b", expr("v div 1024"))
    val wOffP = Window.orderBy(col("b"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val offP = pooled.groupBy(col("b")).agg(sum(col("pcnt")).as("bs"))
      .select(col("b"), coalesce(sum(col("bs")).over(wOffP), lit(0L)).as("off"))
    val wInP = Window.partitionBy(col("b")).orderBy(col("v"))
    val cumP = pooled.join(broadcast(offP), Seq("b"))
      .select(col("v").as("pv"), (col("off") + sum(col("pcnt")).over(wInP)).as("pcum"))
      .localCheckpoint() // fanned out per type below
    val tot = pts.groupBy(col("event_type")).agg(sum(col("cnt")).as("n_t"))
    val nAll = pts.agg(sum(col("cnt")).as("n_all"))
    // per-type ordered merge: targets keyed cum*N, pooled keyed pcum*n_t;
    // pooled sorts after targets at equal key (tag), so the first
    // following pooled row is exactly min v' with pcum*n_t >= cum*N
    val types = tot.crossJoin(broadcast(nAll))
    val targets = cumT.join(broadcast(types), "event_type")
      .select(col("event_type"), col("v"),
        (col("cum") * col("n_all")).as("key"), lit(0).as("tag"),
        lit(null).cast(LongType).as("pv"))
    val probes = cumP.crossJoin(broadcast(types))
      .select(col("event_type"), lit(null).cast(LongType).as("v"),
        (col("pcum") * col("n_t")).as("key"), lit(1).as("tag"), col("pv"))
    // REVERSED order + growing frame: Spark evaluates an
    // [unboundedPreceding, currentRow] frame incrementally (O(n) per
    // partition), while [currentRow, unboundedFollowing] recomputes per
    // row (O(n²) — measured 70 s at sf0.1 before this flip). last() of
    // the reversed order is exactly the first following pooled row of
    // the forward order; pooled tag sorts first at equal key so the >=
    // match stays inclusive.
    val wNext = Window.partitionBy(col("event_type"))
      .orderBy(col("key").desc, col("tag").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    targets.unionByName(probes)
      .withColumn("norm_v", last(col("pv"), ignoreNulls = true).over(wNext))
      .filter(col("tag") === 0)
      .select(col("event_type"), col("v"), col("norm_v"))
  }

  /** Oracle: plain per-type and pooled CDF windows; the min-satisfying
    * lookup is an ASOF JOIN on NEGATED keys (ASOF matches the largest
    * right key <= left key, so negation turns it into the smallest
    * right key >= left key). */
  val q201Sql: String =
    """WITH ev AS (
      |  SELECT event_type, CAST(round(value * 100) AS BIGINT) AS v FROM events),
      |pts AS (SELECT event_type, v, CAST(COUNT(*) AS BIGINT) AS cnt
      |  FROM ev GROUP BY 1, 2),
      |cum_t AS (
      |  SELECT event_type, v,
      |    CAST(SUM(cnt) OVER (PARTITION BY event_type ORDER BY v) AS BIGINT) AS cum
      |  FROM pts),
      |pooled AS (
      |  SELECT v AS pv,
      |    CAST(SUM(SUM(cnt)) OVER (ORDER BY v) AS BIGINT) AS pcum
      |  FROM pts GROUP BY v),
      |tot AS (SELECT event_type, CAST(SUM(cnt) AS BIGINT) AS n_t
      |  FROM pts GROUP BY 1),
      |nall AS (SELECT CAST(SUM(cnt) AS BIGINT) AS n_all FROM pts),
      |targets AS (
      |  SELECT c.event_type, c.v, c.cum * nall.n_all AS key
      |  FROM cum_t c CROSS JOIN nall),
      |probes AS (
      |  SELECT t.event_type, p.pv, p.pcum * t.n_t AS key
      |  FROM pooled p CROSS JOIN tot t)
      |SELECT tg.event_type, tg.v, pr.pv AS norm_v
      |FROM targets tg
      |ASOF JOIN probes pr
      |  ON pr.event_type = tg.event_type AND -pr.key <= -tg.key""".stripMargin

  /** q208's corpus stage — the only part that touches all documents.
    * Package-visible so ExchangeBudgetSpec can gate it: the
    * localCheckpoint in q208ConformalCoverage hides it from the final
    * plan. */
  private[graft] def q208PointsPlan(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("lang"), col("doc_id"), col("n_chars").cast(LongType).as("s"))
      .groupBy(col("lang"), col("s"))
      .agg(
        sum(when(col("doc_id") % 2 === 0, 1L).otherwise(0L)).as("cal"),
        sum(when(col("doc_id") % 2 === 1, 1L).otherwise(0L)).as("ev"))

  // ------------------------------------------------------------------
  // q208: split-conformal calibration coverage (Vovk 2005; Angelopoulos
  // & Bates 2021) — the distribution-free guarantee check an eval
  // pipeline runs on any score-based filter: per language, the even
  // docs calibrate a 90% nonconformity threshold (score = n_chars) as
  // the ⌈0.9·(n+1)⌉-th order statistic, and the odd docs measure
  // realized coverage against it. Everything is exact: the rank is
  // integer ceil arithmetic, the order statistic is selected off a
  // value-point CDF (no per-doc sort), coverage is one truncating
  // micro division. A conformal threshold that drifts off its nominal
  // coverage is the canonical symptom of calibration/eval leakage.
  //
  // Scale shape: ONE corpus pass tallies calibration and eval counts
  // per (lang, score-point) together (conditional sums, q128's trick);
  // the CDF window rides per-lang VALUE-POINT lists (bounded by the
  // score domain, not the corpus), and the threshold/coverage joins
  // broadcast dimension-sized tables.
  // ------------------------------------------------------------------
  def q208ConformalCoverage(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val pts = q208PointsPlan(spark, dir)
      .localCheckpoint() // reused: totals, CDF, coverage
    val tot = pts.groupBy(col("lang"))
      .agg(sum(col("cal")).as("n_cal"), sum(col("ev")).as("n_eval"))
      .withColumn("k", expr("(9 * (n_cal + 1) + 9) div 10"))
    val w = Window.partitionBy(col("lang")).orderBy(col("s"))
    val qh = pts.withColumn("cum", sum(col("cal")).over(w))
      .join(broadcast(tot), "lang")
      .groupBy(col("lang"))
      .agg(min(when(col("cum") >= col("k"), col("s"))).as("qhat"))
    val cov = pts.join(broadcast(qh), "lang")
      .groupBy(col("lang"))
      .agg(sum(when(col("s") <= col("qhat"), col("ev")).otherwise(0L))
        .as("covered"))
    tot.join(qh, "lang").join(cov, "lang")
      .select(col("lang"), col("n_cal"), col("n_eval"), col("k"),
        col("qhat"), col("covered"),
        expr("(covered * 1000000) div n_eval").as("coverage_micro"))
  }

  val q208Sql: String =
    """WITH d AS (
      |  SELECT lang, doc_id, CAST(n_chars AS BIGINT) AS s FROM documents),
      |pts AS (
      |  SELECT lang, s,
      |    CAST(SUM(CASE WHEN doc_id % 2 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS cal,
      |    CAST(SUM(CASE WHEN doc_id % 2 = 1 THEN 1 ELSE 0 END) AS BIGINT) AS ev
      |  FROM d GROUP BY 1, 2),
      |tot AS (
      |  SELECT lang, CAST(SUM(cal) AS BIGINT) AS n_cal,
      |    CAST(SUM(ev) AS BIGINT) AS n_eval,
      |    CAST((9 * (SUM(cal) + 1) + 9) // 10 AS BIGINT) AS k
      |  FROM pts GROUP BY 1),
      |cum AS (
      |  SELECT lang, s,
      |    SUM(cal) OVER (PARTITION BY lang ORDER BY s) AS cum
      |  FROM pts),
      |qh AS (
      |  SELECT c.lang, MIN(CASE WHEN c.cum >= t.k THEN c.s END) AS qhat
      |  FROM cum c JOIN tot t USING (lang) GROUP BY 1),
      |cov AS (
      |  SELECT p.lang,
      |    CAST(SUM(CASE WHEN p.s <= q.qhat THEN p.ev ELSE 0 END) AS BIGINT)
      |      AS covered
      |  FROM pts p JOIN qh q USING (lang) GROUP BY 1)
      |SELECT t.lang, t.n_cal, t.n_eval, t.k, q.qhat, c.covered,
      |  CAST((c.covered * 1000000) // t.n_eval AS BIGINT) AS coverage_micro
      |FROM tot t JOIN qh q ON q.lang = t.lang JOIN cov c ON c.lang = t.lang""".stripMargin

  // ------------------------------------------------------------------
  // q236: Hill tail-index estimator (Hill 1975) of the per-source
  // document-length distribution: over the top k = 20 order statistics
  // x_(1) ≥ … ≥ x_(k) ≥ x_(k+1),
  //   H = (1/k) Σ_{i≤k} (ln x_(i) − ln x_(k+1)),   α̂ = 1 / H.
  // α̂ is the heavy-tail exponent — the principled companion to q215's
  // Gini: a source whose length tail is TOO heavy (α̂ ≲ 2, infinite
  // variance) will dominate token mass with a few mega-documents and
  // needs a length cap before mixing; α̂ large means a short-tailed,
  // well-behaved source.
  //
  // Float parity: each ln is scaled to an exact micro-integer
  // (round(ln(x)·10⁶)) BEFORE summation — Σ over doubles would be
  // partial-order-dependent; Σ over BIGINTs is exact in any order.
  // H and α̂ are then single double divisions of exact integers, 6/4 dp.
  //
  // Scale shape: the order statistics come from the bounded TopK heap
  // (map-side pruned — at most k+1 rows per source per partition cross
  // the shuffle), NOT a rank window: ranking lengths with row_number()
  // would sort each source's entire document population on one reducer
  // to keep 21 rows. One tally + final order range.
  // ------------------------------------------------------------------
  def q236HillTail(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.TopKAggregate.topK
    val k = 20
    val microLn = (c: Column) =>
      round(log(c) * lit(1000000.0), 0).cast(LongType)
    val head = Tables.documents(spark, dir)
      .filter(col("n_chars") > 0)
      .groupBy(col("source"))
      .agg(topK(col("n_chars").cast(DoubleType), col("doc_id"), k + 1).as("h"),
        count(lit(1)).as("n_docs"))
      .filter(size(col("h")) === k + 1)
    val denom = col("a_top") - lit(k.toLong) * col("a_tail")
    head
      .withColumn("a_top", aggregate(slice(col("h"), 1, k), lit(0L),
        (acc, e) => acc + microLn(e.getField("score"))))
      .withColumn("a_tail", microLn(element_at(col("h"), k + 1).getField("score")))
      .select(col("source"), col("n_docs"), lit(k.toLong).as("k"),
        element_at(col("h"), k + 1).getField("score").cast(LongType).as("x_tail"),
        round(denom.cast(DoubleType) / lit(k * 1000000.0), 6).as("hill_h"),
        when(denom === 0L, lit(null).cast(DoubleType))
          .otherwise(round(lit(k * 1000000.0) / denom.cast(DoubleType), 4))
          .as("tail_alpha"))
      .orderBy(col("source"))
  }

  val q236Sql: String =
    """WITH ranked AS (
      |  SELECT source, n_chars, doc_id,
      |    ROW_NUMBER() OVER (PARTITION BY source
      |      ORDER BY n_chars DESC, doc_id ASC) AS r,
      |    COUNT(*) OVER (PARTITION BY source) AS n_docs
      |  FROM documents WHERE n_chars > 0),
      |head AS (SELECT * FROM ranked WHERE r <= 21 AND n_docs >= 21),
      |addends AS (
      |  SELECT source, MAX(n_docs) AS n_docs,
      |    SUM(CASE WHEN r <= 20 THEN
      |      CAST(round(ln(CAST(n_chars AS DOUBLE)) * 1000000.0, 0) AS BIGINT)
      |      ELSE 0 END) AS a_top,
      |    MAX(CASE WHEN r = 21 THEN
      |      CAST(round(ln(CAST(n_chars AS DOUBLE)) * 1000000.0, 0) AS BIGINT)
      |      END) AS a_tail,
      |    MAX(CASE WHEN r = 21 THEN CAST(n_chars AS BIGINT) END) AS x_tail
      |  FROM head GROUP BY source)
      |SELECT source, CAST(n_docs AS BIGINT) AS n_docs,
      |  CAST(20 AS BIGINT) AS k, x_tail,
      |  round(CAST(a_top - 20 * a_tail AS DOUBLE) / 20000000.0, 6) AS hill_h,
      |  CASE WHEN a_top - 20 * a_tail = 0 THEN NULL
      |       ELSE round(20000000.0 / CAST(a_top - 20 * a_tail AS DOUBLE), 4)
      |       END AS tail_alpha
      |FROM addends ORDER BY source""".stripMargin

  // ------------------------------------------------------------------
  // q239: Mann–Whitney U drift test — each event type's value
  // distribution vs the 'view' baseline, the rank-sum companion to
  // q186's KS: U answers "does one distribution stochastically
  // dominate?" where KS answers "do the CDFs differ anywhere?". Exact
  // tie-corrected form over grouped value counts: with c1/c0 the
  // per-value counts and cum0 the inclusive baseline CDF,
  //   2·U₁ = Σ_v c1·(2·cum0 − c0)            (ties count half — kept
  //                                            doubled so it stays int)
  //   σ² = n1·n0/12 · ((n+1) − Σ(t³−t)/(n(n−1))),  t = c1+c0
  //   z = (2U₁ − n1·n0) / (2σ),   r_rb = 2U₁/(n1·n0) − 1.
  // Every statistic is an exact integer (DECIMAL/HUGEINT where cubes
  // can overflow); z is ONE identical double expression over those
  // integers, and the rank-biserial effect size is pure integer
  // division — no float ranking anywhere.
  //
  // 100 TB shape: identical to q186 — the corpus collapses to (type,
  // value-point) counts map-side; the CDF prefix-sum uses the same
  // two-level bucket-offset idiom so no window ever sees more than the
  // VALUE DOMAIN (≤ ~100·range points), regardless of row count.
  // ------------------------------------------------------------------
  def q239MannWhitneyDrift(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val dec = DecimalType(38, 0)
    val ev = Tables.events(spark, dir)
      .select(col("event_type"), round(col("value") * 100).cast(LongType).as("v"))
    val pts = ev.groupBy(col("event_type"), col("v")).agg(count(lit(1)).as("cnt"))
      .localCheckpoint() // reused: own side, baseline fan-out, type list
    val others = pts.select(col("event_type")).distinct()
      .filter(col("event_type") =!= "view")
    val tagged = pts.filter(col("event_type") =!= "view")
      .select(col("event_type"), col("v"), col("cnt").as("c1"), lit(0L).as("c0"))
      .unionByName(pts.filter(col("event_type") === "view")
        .select(col("v"), col("cnt"))
        .crossJoin(broadcast(others))
        .select(col("event_type"), col("v"), lit(0L).as("c1"), col("cnt").as("c0")))
    val merged = tagged.groupBy(col("event_type"), col("v"))
      .agg(sum(col("c1")).as("c1"), sum(col("c0")).as("c0"))
      .withColumn("b", expr("v div 1024"))
      .localCheckpoint() // reused: bucket subtotals, cumsum, totals
    val bucketTot = merged.groupBy(col("event_type"), col("b"))
      .agg(sum(col("c0")).as("bs0"))
    val wOff = Window.partitionBy(col("event_type")).orderBy(col("b"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val offsets = bucketTot.select(col("event_type"), col("b"),
      coalesce(sum(col("bs0")).over(wOff), lit(0L)).as("off0"))
    val wIn = Window.partitionBy(col("event_type"), col("b")).orderBy(col("v"))
    val cum = merged.join(broadcast(offsets), Seq("event_type", "b"))
      .select(col("event_type"), col("c1"), col("c0"),
        (col("off0") + sum(col("c0")).over(wIn)).as("cum0"))
    val t = col("c1") + col("c0")
    val agg = cum.groupBy(col("event_type"))
      .agg(sum(col("c1")).as("n1"), sum(col("c0")).as("n0"),
        sum((col("c1").cast(dec) *
          (lit(2).cast(dec) * col("cum0").cast(dec) - col("c0").cast(dec))))
          .as("u_twice_d"),
        sum((t.cast(dec) * t.cast(dec) * t.cast(dec) - t.cast(dec)))
          .as("tie_d"))
    val n = col("n1") + col("n0")
    val sigma = sqrt(
      (col("n1") * col("n0")).cast(DoubleType) *
        ((n + lit(1L)).cast(DoubleType) -
          col("tie_d").cast(DoubleType) /
            (n.cast(DoubleType) * (n - lit(1L)).cast(DoubleType))) /
        lit(12.0))
    agg
      .select(col("event_type"), col("n1"), col("n0"),
        col("u_twice_d").cast(LongType).as("u_twice"),
        expr("CAST(((u_twice_d - CAST(n1 AS DECIMAL(38,0)) * n0) * 1000000) " +
          "div (CAST(n1 AS DECIMAL(38,0)) * n0) AS BIGINT)")
          .as("rank_biserial_micro"),
        when(sigma === 0.0, lit(null).cast(DoubleType))
          .otherwise(round(
            (col("u_twice_d").cast(DoubleType) -
              (col("n1") * col("n0")).cast(DoubleType)) /
              (lit(2.0) * sigma), 4))
          .as("z_score"))
      .orderBy(col("event_type"))
  }

  val q239Sql: String =
    """WITH ev AS (
      |  SELECT event_type, CAST(round(value * 100) AS BIGINT) AS v FROM events),
      |pts AS (SELECT event_type, v, COUNT(*) AS cnt FROM ev GROUP BY 1, 2),
      |others AS (SELECT DISTINCT event_type FROM pts WHERE event_type <> 'view'),
      |tagged AS (
      |  SELECT event_type, v, cnt AS c1, 0 AS c0 FROM pts WHERE event_type <> 'view'
      |  UNION ALL
      |  SELECT o.event_type, p.v, 0 AS c1, p.cnt AS c0
      |  FROM pts p CROSS JOIN others o WHERE p.event_type = 'view'),
      |merged AS (
      |  SELECT event_type, v, CAST(SUM(c1) AS BIGINT) AS c1,
      |    CAST(SUM(c0) AS BIGINT) AS c0
      |  FROM tagged GROUP BY 1, 2),
      |cum AS (
      |  SELECT event_type, c1, c0,
      |    CAST(SUM(c0) OVER (PARTITION BY event_type ORDER BY v) AS BIGINT)
      |      AS cum0
      |  FROM merged),
      |agg AS (
      |  SELECT event_type,
      |    CAST(SUM(c1) AS BIGINT) AS n1, CAST(SUM(c0) AS BIGINT) AS n0,
      |    SUM(CAST(c1 AS HUGEINT) * (2 * CAST(cum0 AS HUGEINT) - c0))
      |      AS u_twice_d,
      |    SUM(CAST(c1 + c0 AS HUGEINT) * (c1 + c0) * (c1 + c0)
      |      - (c1 + c0)) AS tie_d
      |  FROM cum GROUP BY 1)
      |SELECT event_type, n1, n0,
      |  CAST(u_twice_d AS BIGINT) AS u_twice,
      |  CAST(((u_twice_d - CAST(n1 AS HUGEINT) * n0) * 1000000) //
      |    (CAST(n1 AS HUGEINT) * n0) AS BIGINT) AS rank_biserial_micro,
      |  CASE WHEN sqrt(CAST(n1 * n0 AS DOUBLE) *
      |      (CAST(n1 + n0 + 1 AS DOUBLE) - CAST(tie_d AS DOUBLE) /
      |        (CAST(n1 + n0 AS DOUBLE) * CAST(n1 + n0 - 1 AS DOUBLE))) / 12.0)
      |      = 0.0 THEN NULL
      |    ELSE round((CAST(u_twice_d AS DOUBLE) - CAST(n1 * n0 AS DOUBLE)) /
      |      (2.0 * sqrt(CAST(n1 * n0 AS DOUBLE) *
      |        (CAST(n1 + n0 + 1 AS DOUBLE) - CAST(tie_d AS DOUBLE) /
      |          (CAST(n1 + n0 AS DOUBLE) * CAST(n1 + n0 - 1 AS DOUBLE))) /
      |        12.0)), 4)
      |    END AS z_score
      |FROM agg ORDER BY event_type""".stripMargin

  // ------------------------------------------------------------------
  // q240: chi-squared test of independence, source × lang — "is the
  // language mix the same across sources?" — the categorical
  // counterpart of q192's distributional JSD and the global test that
  // complements q186/q239's per-type drift checks. With o the observed
  // cell, r/c the margins and T the total, each cell contributes
  // (o − rc/T)²/(rc/T) = (o·T − r·c)² / (r·c·T); the per-cell addend
  // is computed micro-fixed-point in DECIMAL/HUGEINT (the squared
  // numerator overflows BIGINT at ~10⁵ rows) and SUMMED EXACTLY, so
  // χ² needs no float arithmetic at all. Cramér's V is the one final
  // double expression (χ²/(n·min(R−1,C−1)) under a sqrt), 4 dp.
  //
  // 100 TB shape: ONE map-side-combined contingency tally (cells are
  // |sources|×|langs| — dimension-sized); margins and the total are
  // rollups OF THE CELL TABLE (never re-scan the corpus), broadcast
  // back onto the cells; final 1-row agg. Nothing after the first
  // exchange is corpus-sized.
  // ------------------------------------------------------------------
  def q240ChiSquared(spark: SparkSession, dir: String): DataFrame = {
    val dec = DecimalType(38, 0)
    val cells = Tables.documents(spark, dir)
      .groupBy(col("source"), col("lang")).agg(count(lit(1)).as("o"))
      .localCheckpoint() // reused: margins, total, and the addend pass
    val rows = cells.groupBy(col("source")).agg(sum(col("o")).as("r"))
    val cols_ = cells.groupBy(col("lang")).agg(sum(col("o")).as("c"))
    val tot = cells.agg(sum(col("o")).as("t_all"),
      countDistinct(col("source")).as("n_r"),
      countDistinct(col("lang")).as("n_c"))
    val dev = col("o").cast(dec) * col("t_all").cast(dec) -
      col("r").cast(dec) * col("c").cast(dec)
    val addend = expr(
      "CAST((dev * dev * 1000000) div " +
        "(CAST(r AS DECIMAL(38,0)) * c * t_all) AS DECIMAL(38,0))")
    cells
      .join(broadcast(rows), "source")
      .join(broadcast(cols_), "lang")
      .crossJoin(broadcast(tot))
      .withColumn("dev", dev)
      .agg(max(col("n_r")).as("n_sources"), max(col("n_c")).as("n_langs"),
        max(col("t_all")).as("n"),
        sum(addend).cast(LongType).as("chi2_micro"))
      .withColumn("dof", (col("n_sources") - 1) * (col("n_langs") - 1))
      .withColumn("cramers_v", round(sqrt(
        (col("chi2_micro").cast(DoubleType) / lit(1000000.0)) /
          (col("n").cast(DoubleType) *
            least(col("n_sources") - 1, col("n_langs") - 1)
              .cast(DoubleType))), 4))
      .select(col("n_sources"), col("n_langs"), col("n"), col("dof"),
        col("chi2_micro"), col("cramers_v"))
  }

  val q240Sql: String =
    """WITH cells AS (
      |  SELECT source, lang, CAST(COUNT(*) AS BIGINT) AS o
      |  FROM documents GROUP BY 1, 2),
      |rows_ AS (SELECT source, CAST(SUM(o) AS BIGINT) AS r
      |  FROM cells GROUP BY 1),
      |cols_ AS (SELECT lang, CAST(SUM(o) AS BIGINT) AS c
      |  FROM cells GROUP BY 1),
      |tot AS (SELECT CAST(SUM(o) AS BIGINT) AS t_all,
      |  CAST(COUNT(DISTINCT source) AS BIGINT) AS n_r,
      |  CAST(COUNT(DISTINCT lang) AS BIGINT) AS n_c FROM cells),
      |add_ AS (
      |  SELECT n_r, n_c, t_all,
      |    (CAST(o AS HUGEINT) * t_all - CAST(r AS HUGEINT) * c) AS dev,
      |    CAST(r AS HUGEINT) * c * t_all AS den
      |  FROM cells JOIN rows_ USING (source) JOIN cols_ USING (lang)
      |    CROSS JOIN tot)
      |SELECT MAX(n_r) AS n_sources, MAX(n_c) AS n_langs,
      |  MAX(t_all) AS n,
      |  (MAX(n_r) - 1) * (MAX(n_c) - 1) AS dof,
      |  CAST(SUM((dev * dev * 1000000) // den) AS BIGINT) AS chi2_micro,
      |  round(sqrt((CAST(SUM((dev * dev * 1000000) // den) AS DOUBLE)
      |      / 1000000.0) /
      |    (CAST(MAX(t_all) AS DOUBLE) *
      |      CAST(least(MAX(n_r) - 1, MAX(n_c) - 1) AS DOUBLE))), 4)
      |    AS cramers_v
      |FROM add_""".stripMargin

  // ------------------------------------------------------------------
  // q245: Theil's uncertainty coefficient, source ↔ lang (Theil 1970)
  // — the information-theoretic companion to q240's χ²: U(lang|source)
  // = I(source;lang)/H(lang) says what FRACTION of the language
  // uncertainty the source identity removes (χ² says "dependent",
  // U says "how much", on a 0–1 scale, and asymmetrically).
  //
  // Exact protocol: every entropy/MI term is o·round(log2(·)·10⁶) —
  // the log2 computed once in an IDENTICAL double expression over
  // exact integers (q89's addend contract), the products and sums
  // exact DECIMAL/HUGEINT. MI and both entropies share the SAME
  // T·10⁶ scaling, so each U is a ratio of two exact integers — one
  // double division, 6 dp.
  //
  // 100 TB shape: the same ONE map-side-combined contingency tally as
  // q240 (cells are dimension-sized); margins/totals are rollups of
  // the checkpointed cell table; final 1-row assembly.
  // ------------------------------------------------------------------
  def q245TheilsU(spark: SparkSession, dir: String): DataFrame = {
    val dec = DecimalType(38, 0)
    val cells = Tables.documents(spark, dir)
      .groupBy(col("source"), col("lang")).agg(count(lit(1)).as("o"))
      .localCheckpoint() // reused: margins, total, MI addends
    val rows = cells.groupBy(col("source")).agg(sum(col("o")).as("r"))
    val cols_ = cells.groupBy(col("lang")).agg(sum(col("o")).as("c"))
    val tot = cells.agg(sum(col("o")).as("t_all"))
    def entScaled(margin: DataFrame, cnt: String): DataFrame = margin
      .crossJoin(broadcast(tot))
      .agg((max(col("t_all")).cast(dec) *
        round(log2(max(col("t_all")).cast(DoubleType)) * lit(1000000.0), 0)
          .cast(LongType).cast(dec) -
        sum(col(cnt).cast(dec) *
          round(log2(col(cnt).cast(DoubleType)) * lit(1000000.0), 0)
            .cast(LongType).cast(dec))).as("h"))
    val hLang = entScaled(cols_, "c").select(col("h").as("h_lang"))
    val hSrc = entScaled(rows, "r").select(col("h").as("h_src"))
    val mi = cells
      .join(broadcast(rows), "source").join(broadcast(cols_), "lang")
      .crossJoin(broadcast(tot))
      .agg(sum(col("o").cast(dec) *
        round(log2(col("o").cast(DoubleType) * col("t_all").cast(DoubleType) /
          (col("r").cast(DoubleType) * col("c").cast(DoubleType))) *
          lit(1000000.0), 0).cast(LongType).cast(dec)).as("mi"),
        max(col("t_all")).as("n"))
    mi.crossJoin(broadcast(hLang)).crossJoin(broadcast(hSrc))
      .select(col("n"),
        round(col("h_lang").cast(DoubleType) /
          (col("n").cast(DoubleType) * lit(1000000.0)), 6).as("h_lang_bits"),
        round(col("h_src").cast(DoubleType) /
          (col("n").cast(DoubleType) * lit(1000000.0)), 6).as("h_source_bits"),
        round(col("mi").cast(DoubleType) /
          (col("n").cast(DoubleType) * lit(1000000.0)), 6).as("mi_bits"),
        round(col("mi").cast(DoubleType) / col("h_lang").cast(DoubleType), 6)
          .as("u_lang_given_source"),
        round(col("mi").cast(DoubleType) / col("h_src").cast(DoubleType), 6)
          .as("u_source_given_lang"))
  }

  val q245Sql: String =
    """WITH cells AS (
      |  SELECT source, lang, CAST(COUNT(*) AS BIGINT) AS o
      |  FROM documents GROUP BY 1, 2),
      |rows_ AS (SELECT source, CAST(SUM(o) AS BIGINT) AS r
      |  FROM cells GROUP BY 1),
      |cols_ AS (SELECT lang, CAST(SUM(o) AS BIGINT) AS c
      |  FROM cells GROUP BY 1),
      |tot AS (SELECT CAST(SUM(o) AS BIGINT) AS t_all FROM cells),
      |hl AS (
      |  SELECT CAST(MAX(t_all) AS HUGEINT) *
      |      CAST(round(log2(CAST(MAX(t_all) AS DOUBLE)) * 1000000.0, 0)
      |        AS BIGINT) -
      |    SUM(CAST(c AS HUGEINT) *
      |      CAST(round(log2(CAST(c AS DOUBLE)) * 1000000.0, 0) AS BIGINT))
      |    AS h_lang
      |  FROM cols_ CROSS JOIN tot),
      |hs AS (
      |  SELECT CAST(MAX(t_all) AS HUGEINT) *
      |      CAST(round(log2(CAST(MAX(t_all) AS DOUBLE)) * 1000000.0, 0)
      |        AS BIGINT) -
      |    SUM(CAST(r AS HUGEINT) *
      |      CAST(round(log2(CAST(r AS DOUBLE)) * 1000000.0, 0) AS BIGINT))
      |    AS h_src
      |  FROM rows_ CROSS JOIN tot),
      |mi AS (
      |  SELECT SUM(CAST(o AS HUGEINT) *
      |      CAST(round(log2(CAST(o AS DOUBLE) * CAST(t_all AS DOUBLE) /
      |        (CAST(r AS DOUBLE) * CAST(c AS DOUBLE))) * 1000000.0, 0)
      |        AS BIGINT)) AS mi,
      |    MAX(t_all) AS n
      |  FROM cells JOIN rows_ USING (source) JOIN cols_ USING (lang)
      |    CROSS JOIN tot)
      |SELECT n,
      |  round(CAST(h_lang AS DOUBLE) / (CAST(n AS DOUBLE) * 1000000.0), 6)
      |    AS h_lang_bits,
      |  round(CAST(h_src AS DOUBLE) / (CAST(n AS DOUBLE) * 1000000.0), 6)
      |    AS h_source_bits,
      |  round(CAST(mi AS DOUBLE) / (CAST(n AS DOUBLE) * 1000000.0), 6)
      |    AS mi_bits,
      |  round(CAST(mi AS DOUBLE) / CAST(h_lang AS DOUBLE), 6)
      |    AS u_lang_given_source,
      |  round(CAST(mi AS DOUBLE) / CAST(h_src AS DOUBLE), 6)
      |    AS u_source_given_lang
      |FROM mi CROSS JOIN hl CROSS JOIN hs""".stripMargin

  // ------------------------------------------------------------------
  // q248: blocking-quality audit for q158's entity-resolution scheme
  // (first word + first letter of the second word) — the two numbers
  // a record-linkage pipeline tunes on (Christen 2012): REDUCTION
  // RATIO (pair-space shrinkage) and PAIR COMPLETENESS (recall of
  // true matches inside the blocks). RR needs NO pair join at all:
  // candidate pairs = Σ_blocks c(c−1)/2 off ONE block tally — the
  // audit is strictly cheaper than the join it certifies. PC is
  // estimated on an ABSOLUTE-SIZE key decimation: the modulus is
  // derived from one count() probe to target a constant-row sample
  // (2000 rows — the oracle derives the same modulus), so the
  // brute-force truth anchor's cost is a CONSTANT
  // ~target²/2 JW comparisons at ANY corpus size. The round-13
  // fixed-fraction `% 20` grew the broadcast side linearly and the
  // comparisons quadratically with N — a genuine 100×-scale killer.
  // True matches = Jaro–Winkler ≥ 0.95 brute-forced within the sample
  // (the calibration anchor — the only intentionally quadratic-in-
  // target piece), and a true pair is CAUGHT when both block keys
  // agree.
  //
  // Exactness: all pair counts are c(c−1)/2 integers in DECIMAL/
  // HUGEINT (n² overflows BIGINT at ~4e9 rows); rr/pc are exact
  // integer-division micros; the JW decision reuses the compiled
  // kernel pinned bit-equal to DuckDB's (JaroWinklerSpec); a sample
  // with zero true pairs reports caught = 0 (not NULL — the oracle's
  // COALESCE) and pc_micro = NULL.
  // ------------------------------------------------------------------
  private val BlockingSample = 2000L

  def q248BlockingAudit(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.StringSimilarityFunctions.jaroWinkler
    val dec = DecimalType(38, 0)
    val p = Tables.part(spark, dir).select(
      col("p_partkey"), col("p_name"),
      split(col("p_name"), " ").getItem(0).as("adj"),
      substring(split(col("p_name"), " ").getItem(1), 1, 1).as("b2"))
      .localCheckpoint() // reused: totals, block tally, sample side
    val modulus = StatsQueries.sampleModulus(p.count(), BlockingSample)
    val tot = p.agg(count(lit(1)).as("n"))
      .select(col("n"),
        expr("CAST((CAST(n AS DECIMAL(38,0)) * (n - 1)) div 2 " +
          "AS DECIMAL(38,0))").as("total_pairs"))
    val cand = p.groupBy(col("adj"), col("b2")).agg(count(lit(1)).as("c"))
      .agg(coalesce(sum(
        expr("CAST((CAST(c AS DECIMAL(38,0)) * (c - 1)) div 2 " +
          "AS DECIMAL(38,0))")), lit(0).cast(dec)).as("cand_pairs"))
    val sample = p.filter(col("p_partkey") % modulus === 0)
    val sb = sample.select(col("p_partkey").as("k2"), col("p_name").as("n2"),
      col("adj").as("adj2"), col("b2").as("b22"))
    val pc = sample.crossJoin(broadcast(sb))
      .filter(col("p_partkey") < col("k2"))
      .withColumn("jw", jaroWinkler(col("p_name"), col("n2")))
      .filter(col("jw") >= 0.95)
      .agg(count(lit(1)).as("sample_true"),
        coalesce(sum(when(col("adj") === col("adj2") && col("b2") === col("b22"),
          1L).otherwise(0L)), lit(0L)).as("sample_caught"))
    tot.crossJoin(broadcast(cand)).crossJoin(broadcast(pc))
      .select(col("n"),
        col("total_pairs").cast(LongType).as("total_pairs"),
        col("cand_pairs").cast(LongType).as("cand_pairs"),
        expr("CAST(((total_pairs - cand_pairs) * 1000000) div total_pairs " +
          "AS BIGINT)").as("rr_micro"),
        col("sample_true"), col("sample_caught"),
        expr("CAST(CASE WHEN sample_true > 0 THEN " +
          "(sample_caught * 1000000) div sample_true ELSE NULL END AS BIGINT)")
          .as("pc_micro"))
  }

  val q248Sql: String =
    """WITH p AS (
      |  SELECT p_partkey, p_name,
      |    string_split(p_name, ' ')[1] AS adj,
      |    substr(string_split(p_name, ' ')[2], 1, 1) AS b2
      |  FROM part),
      |tot AS (
      |  SELECT CAST(COUNT(*) AS BIGINT) AS n,
      |    (CAST(COUNT(*) AS HUGEINT) * (COUNT(*) - 1)) // 2 AS total_pairs
      |  FROM p),
      |cand AS (
      |  SELECT COALESCE(SUM((CAST(c AS HUGEINT) * (c - 1)) // 2),
      |    CAST(0 AS HUGEINT)) AS cand_pairs
      |  FROM (SELECT adj, b2, CAST(COUNT(*) AS BIGINT) AS c
      |        FROM p GROUP BY adj, b2)),
      |m AS (SELECT greatest(1, COUNT(*) // 2000) AS m FROM p),
      |pc AS (
      |  SELECT CAST(COUNT(*) AS BIGINT) AS sample_true,
      |    CAST(COALESCE(SUM(CASE WHEN a.adj = b.adj AND a.b2 = b.b2
      |      THEN 1 ELSE 0 END), 0) AS BIGINT) AS sample_caught
      |  FROM p a JOIN p b
      |    ON a.p_partkey % (SELECT m FROM m) = 0
      |    AND b.p_partkey % (SELECT m FROM m) = 0
      |    AND a.p_partkey < b.p_partkey
      |  WHERE jaro_winkler_similarity(a.p_name, b.p_name) >= 0.95)
      |SELECT n, CAST(total_pairs AS BIGINT) AS total_pairs,
      |  CAST(cand_pairs AS BIGINT) AS cand_pairs,
      |  CAST(((total_pairs - cand_pairs) * 1000000) // total_pairs AS BIGINT)
      |    AS rr_micro,
      |  sample_true, sample_caught,
      |  CAST(CASE WHEN sample_true > 0 THEN
      |    (sample_caught * 1000000) // sample_true ELSE NULL END AS BIGINT)
      |    AS pc_micro
      |FROM tot CROSS JOIN cand CROSS JOIN pc""".stripMargin
}
