package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.functions.LongGramAggregate
import graft.operators.Similarity
import graft.sources.Tables

/**
 * Embedding-space dataset audits (round 14): the three structural
 * checks a training-data pipeline runs on an embedding table BEFORE
 * trusting it for dedup/retrieval/curriculum decisions — effective
 * rank (has the space collapsed?), k-NN label disagreement (are the
 * labels noisy?), and hubness (is the metric pathological in this
 * dimensionality?). Complements q242/q243/q246 (dominant-direction
 * family) and q126 (mutual-kNN edges).
 *
 * Float-parity discipline: Gram moments are exact integers via
 * LongGramAggregate (milli-quantized, order-independent); the k-NN
 * queries reuse `Similarity.bruteForceTopK`'s rounded-cosine + id
 * tiebreak contract (bit-matched to the oracle's ROW_NUMBER form);
 * ratios are DECIMAL/HUGEINT truncating-division micros; q252's
 * skewness is ONE identical double expression over exact integer
 * moments in both engines.
 */
object EmbedAuditQueries {

  private val EmbDim = 64

  private def milliVec: Column = transform(col("embedding"),
    e => round(e.cast(DoubleType) * lit(1000.0), 0).cast(LongType))

  // ------------------------------------------------------------------
  // q250: effective rank (participation ratio) of the embedding
  // covariance per label — PR = tr(C)²/tr(C²) = (Σλ)²/Σλ² ∈ [1, d],
  // the eigenvalue-free anisotropy number (Gao et al. 2019's
  // representation-collapse diagnostic): PR ≈ d is isotropic, PR ≈ 1
  // is a collapsed (rank-1) cloud that will defeat cosine dedup and
  // ANN recall alike. Needs NO eigensolve: tr(C²) = ΣᵢⱼCᵢⱼ² for
  // symmetric C, so both traces fold straight out of the Gram.
  //
  // Exactness: ONE LongGramAggregate pass per label (the corpus never
  // shuffles — fixed-size long buffers combine map-side, |labels|
  // buffers reach the driver); covariance n·Σxy − Σx·Σy, both traces,
  // and PR·10⁶ all in driver BigInt (the q243 collected-dimension
  // pattern), truncation-identical to the oracle's HUGEINT replay.
  //
  // 100 TB shape: one exchange (the label gather of ~2k-long buffers);
  // everything after is |labels|·d² driver arithmetic.
  //
  // Row eligibility is DECLARED, not latent: both engines filter to
  // non-null, exactly-d-dimensional embeddings BEFORE counting, so
  // n_vecs is the number of vectors that actually fed the Gram (the
  // aggregate would silently skip null/ragged rows while a bare
  // COUNT(*) oracle counted them — the two would disagree on the
  // first malformed row).
  // ------------------------------------------------------------------
  def q250EffectiveRank(spark: SparkSession, dir: String): DataFrame = {
    val d = EmbDim
    val triLen = d * (d + 1) / 2
    import spark.implicits._
    val rows = Tables.embeddings(spark, dir)
      .filter(col("embedding").isNotNull && size(col("embedding")) === d)
      .groupBy(col("label"))
      .agg(LongGramAggregate.gram(milliVec, d).as("g"))
      .collect() // |labels| rows of fixed-size buffers — dimension-sized
    val out = rows.map { r =>
      val label = r.getAs[Number](0).intValue
      val g = r.getSeq[Long](1)
      val n = BigInt(g(triLen + d))
      def sxy(i: Int, j: Int): BigInt = {
        val (a, b) = if (i <= j) (i, j) else (j, i)
        BigInt(g(a * d - a * (a - 1) / 2 + (b - a)))
      }
      def sx(i: Int): BigInt = BigInt(g(triLen + i))
      var tr = BigInt(0)
      var tr2 = BigInt(0)
      var i = 0
      while (i < d) {
        var j = 0
        while (j < d) {
          val c = n * sxy(i, j) - sx(i) * sx(j)
          if (i == j) tr += c
          tr2 += c * c
          j += 1
        }
        i += 1
      }
      val pr = if (tr2 == 0) BigInt(0) else (tr * tr * 1000000) / tr2
      (label, n.toLong, pr.toLong)
    }
    out.toSeq.toDF("label", "n_vecs", "pr_micro").orderBy(col("label"))
  }

  val q250Sql: String =
    """WITH ok AS (
      |  SELECT vec_id, label, embedding FROM embeddings
      |  WHERE embedding IS NOT NULL AND len(embedding) = 64),
      |mil AS MATERIALIZED (
      |  SELECT vec_id, label, CAST(r.i AS INT) AS i,
      |    CAST(round(CAST(embedding[r.i + 1] AS DOUBLE) * 1000.0, 0)
      |      AS BIGINT) AS x
      |  FROM ok, range(64) r(i)),
      |sums AS (
      |  SELECT a.label, a.i AS i, b.i AS j,
      |    SUM(CAST(a.x AS HUGEINT) * b.x) AS sxy
      |  FROM mil a JOIN mil b ON a.vec_id = b.vec_id
      |  GROUP BY a.label, a.i, b.i),
      |sx AS (SELECT label, i, CAST(SUM(x) AS HUGEINT) AS sx
      |  FROM mil GROUP BY label, i),
      |nn AS (SELECT label, CAST(COUNT(*) AS HUGEINT) AS n
      |  FROM ok GROUP BY label),
      |cov AS (
      |  SELECT s.label, s.i, s.j, n.n * s.sxy - a.sx * b.sx AS c
      |  FROM sums s
      |  JOIN sx a ON a.label = s.label AND a.i = s.i
      |  JOIN sx b ON b.label = s.label AND b.i = s.j
      |  JOIN nn n ON n.label = s.label),
      |agg AS (
      |  SELECT label,
      |    SUM(CASE WHEN i = j THEN c ELSE 0 END) AS tr,
      |    SUM(c * c) AS tr2
      |  FROM cov GROUP BY label)
      |SELECT CAST(a.label AS INT) AS label, CAST(n.n AS BIGINT) AS n_vecs,
      |  CAST(CASE WHEN tr2 = 0 THEN 0
      |    ELSE (tr * tr * 1000000) // tr2 END AS BIGINT) AS pr_micro
      |FROM agg a JOIN nn n ON n.label = a.label
      |ORDER BY label""".stripMargin

  /** IVF list count for an N-vector self-kNN audit: nlist ≈ √N. At
    * FIXED nlist the audit (query side = corpus) does
    * N·(N/nlist)·nprobe candidate dots — still quadratic. √N lists of
    * ~√N vectors each balance candidate work (N·√N·nprobe) against
    * centroid routing (N·√N) — the classic IVF operating point. Floor
    * 64 keeps corpora just past the brute-force threshold from
    * degenerating to a handful of giant lists; cap 10⁶ bounds the
    * broadcast centroid table (~0.5 GB of 64-dim milli vectors) on a
    * trillion-vector corpus. */
  private[graft] def annNlist(n: Long): Int =
    math.max(64L, math.ceil(math.sqrt(n.toDouble)).toLong)
      .min(1000000L).toInt

  private val AnnVectors = 50000L

  /** Shared k-NN edge set for q251/q252: every vector queries the
    * corpus for its top-10 cosine neighbors. Exact brute force (the
    * CORRECTNESS anchor — q35/q126's contract, query side broadcast +
    * bounded map-side heaps) up to `annAbove` vectors (50k in
    * production, the q225 convention); past it the SAME downstream
    * composes over `Similarity.ivfTopK`'s partitioned index, so
    * neither the broadcast nor the pair count grows with the corpus.
    * The oracle pins the exact path; ApproxParitySpec bounds the ANN
    * drift. */
  private def knnEdges(spark: SparkSession, dir: String, k: Int,
      annAbove: Long): DataFrame = {
    // CPU-dense pair loop over a SMALL parquet (1-2 splits): spread an
    // under-partitioned corpus or the whole n·n dot-product loop
    // serializes on one task (the q145 guard)
    val cores = spark.sparkContext.defaultParallelism
    val raw = Tables.embeddings(spark, dir)
    val emb = if (raw.rdd.getNumPartitions * 2 < cores) raw.repartition(cores)
      else raw
    val queries = emb.select(col("vec_id").as("qid"), col("embedding").as("qv"))
    // probe the RAW scan: counting the repartitioned frame would
    // execute the guard's round-robin shuffle once just for the
    // count and again for the real query. The count serves BOTH the
    // path switch and the ANN index sizing, so it runs once.
    val n = raw.count()
    if (n > annAbove)
      Similarity.ivfTopK(emb, queries, "vec_id", "embedding", "qid", "qv",
        k = k, nlist = annNlist(n), nprobe = 8)
    else
      Similarity.bruteForceTopK(emb, queries,
        "vec_id", "embedding", "qid", "qv", k = k)
  }

  // ------------------------------------------------------------------
  // q251: k-NN label-disagreement noise screen (Confident-Learning /
  // deep-kNN flavored, Northcutt 2021): for each vector, the fraction
  // of its 10 nearest cosine neighbors carrying a DIFFERENT label; per
  // label the mean disagreement and the suspect count (majority of
  // neighbors disagree). High mean disagreement for one label = label
  // noise or a class the encoder cannot separate — either way that
  // label's data needs review before it feeds a curriculum (q136) or
  // a stratified split (q218).
  //
  // Exactness: disagreement counts are integers off the shared k-NN
  // edge set; the per-label mean is ONE ppm truncating division of
  // exact sums. Plan: broadcast query side + bounded heaps (no global
  // sort), two label joins on the k·n edge rows, one label rollup.
  // ------------------------------------------------------------------
  def q251LabelNoise(spark: SparkSession, dir: String): DataFrame =
    q251LabelNoiseAuto(spark, dir)

  /** q251 with the kNN size switch's threshold as an argument, so a
    * test can push a small corpus onto the ANN path. */
  private[graft] def q251LabelNoiseAuto(spark: SparkSession, dir: String,
      annAbove: Long = AnnVectors): DataFrame = {
    val labels = Tables.embeddings(spark, dir)
      .select(col("vec_id"), col("label").cast(IntegerType).as("label"))
    val edges = knnEdges(spark, dir, k = 10, annAbove)
      .join(labels.select(col("vec_id").as("query_id"),
        col("label").as("ql")), "query_id")
      .join(labels.select(col("vec_id").as("neighbor_id"),
        col("label").as("nl")), "neighbor_id")
    edges.groupBy(col("query_id"), col("ql"))
      .agg(count(lit(1)).as("kk"),
        sum(when(col("ql") =!= col("nl"), 1L).otherwise(0L)).as("dis"))
      .groupBy(col("ql").as("label"))
      .agg(count(lit(1)).as("n_vecs"),
        expr("CAST(SUM(dis) * 1000000 div SUM(kk) AS BIGINT)")
          .as("mean_disagree_ppm"),
        sum(when(col("dis") * 2 > col("kk"), 1L).otherwise(0L))
          .as("n_suspects"))
      .orderBy(col("label"))
  }

  val q251Sql: String =
    """WITH e AS (
      |  SELECT vec_id, label,
      |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
      |  FROM embeddings),
      |sims AS (
      |  SELECT a.vec_id AS q, a.label AS ql, b.vec_id AS nb, b.label AS nl,
      |    ROUND(list_dot_product(a.v, b.v) /
      |      (sqrt(list_dot_product(a.v, a.v)) *
      |       sqrt(list_dot_product(b.v, b.v))), 4) AS sim
      |  FROM e a JOIN e b ON a.vec_id <> b.vec_id),
      |ranked AS (
      |  SELECT q, ql, nl,
      |    ROW_NUMBER() OVER (PARTITION BY q ORDER BY sim DESC, nb ASC) AS rk
      |  FROM sims),
      |pv AS (
      |  SELECT q, ql, CAST(COUNT(*) AS BIGINT) AS kk,
      |    CAST(SUM(CASE WHEN ql <> nl THEN 1 ELSE 0 END) AS BIGINT) AS dis
      |  FROM ranked WHERE rk <= 10 GROUP BY q, ql)
      |SELECT CAST(ql AS INT) AS label, CAST(COUNT(*) AS BIGINT) AS n_vecs,
      |  CAST(SUM(dis) * 1000000 // SUM(kk) AS BIGINT) AS mean_disagree_ppm,
      |  CAST(SUM(CASE WHEN dis * 2 > kk THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_suspects
      |FROM pv GROUP BY ql ORDER BY label""".stripMargin

  // ------------------------------------------------------------------
  // q252: hubness audit — the k-occurrence distribution N₁₀(x) (how
  // many vectors list x among their 10 nearest neighbors) per label:
  // max (the biggest hub), antihub count (N = 0), and the skewness of
  // N₁₀ (Radovanović 2010's S_{N_k} — the standard hubness statistic;
  // strongly right-skewed N_k means distance concentration is
  // distorting EVERY kNN-based op: dedup, retrieval, q251 itself).
  //
  // Exactness: N_k counts are integers off the shared k-NN edge set
  // (antihubs via left join + zero-fill); skewness g₁ =
  // (n²S₃ − 3nS₁S₂ + 2S₁³)/(nS₂ − S₁²)^{3/2} with S₁/S₂/S₃ exact
  // DECIMAL/HUGEINT sums — the whole numerator/denominator exact, ONE
  // identical double expression at the end (q56's moment protocol).
  // ------------------------------------------------------------------
  def q252Hubness(spark: SparkSession, dir: String): DataFrame =
    q252HubnessAuto(spark, dir)

  /** q252 with the kNN size switch's threshold as an argument (see
    * `q251LabelNoiseAuto`). */
  private[graft] def q252HubnessAuto(spark: SparkSession, dir: String,
      annAbove: Long = AnnVectors): DataFrame = {
    val dec = DecimalType(38, 0)
    val labels = Tables.embeddings(spark, dir)
      .select(col("vec_id"), col("label").cast(IntegerType).as("label"))
    val occ = knnEdges(spark, dir, k = 10, annAbove)
      .groupBy(col("neighbor_id").as("vec_id"))
      .agg(count(lit(1)).as("nk"))
    val full = labels.join(occ, Seq("vec_id"), "left")
      .na.fill(0L, Seq("nk"))
    full.groupBy(col("label"))
      .agg(count(lit(1)).as("n"),
        max(col("nk")).as("max_k_occ"),
        sum(when(col("nk") === 0L, 1L).otherwise(0L)).as("n_antihubs"),
        sum(col("nk").cast(dec)).as("s1"),
        sum((col("nk").cast(dec) * col("nk").cast(dec))).as("s2"),
        sum((col("nk").cast(dec) * col("nk").cast(dec) * col("nk").cast(dec)))
          .as("s3"))
      .select(col("label"), col("n").as("n_vecs"), col("max_k_occ"),
        col("n_antihubs"),
        // degenerate (all N_k equal) → NULL, not NaN/inf, both engines
        when(col("n").cast(dec) * col("s2") - col("s1") * col("s1") > 0,
          round(
            (col("n").cast(dec) * col("n").cast(dec) * col("s3") -
              lit(3) * col("n").cast(dec) * col("s1") * col("s2") +
              lit(2) * col("s1") * col("s1") * col("s1")).cast(DoubleType) /
            sqrt(pow((col("n").cast(dec) * col("s2") -
              col("s1") * col("s1")).cast(DoubleType), 3.0)), 4))
          .as("skewness"))
      .orderBy(col("label"))
  }

  val q252Sql: String =
    """WITH e AS (
      |  SELECT vec_id, label,
      |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
      |  FROM embeddings),
      |sims AS (
      |  SELECT a.vec_id AS q, b.vec_id AS nb,
      |    ROUND(list_dot_product(a.v, b.v) /
      |      (sqrt(list_dot_product(a.v, a.v)) *
      |       sqrt(list_dot_product(b.v, b.v))), 4) AS sim
      |  FROM e a JOIN e b ON a.vec_id <> b.vec_id),
      |ranked AS (
      |  SELECT q, nb,
      |    ROW_NUMBER() OVER (PARTITION BY q ORDER BY sim DESC, nb ASC) AS rk
      |  FROM sims),
      |occ AS (
      |  SELECT nb AS vec_id, CAST(COUNT(*) AS BIGINT) AS nk
      |  FROM ranked WHERE rk <= 10 GROUP BY nb),
      |full_ AS (
      |  SELECT e.vec_id, e.label, COALESCE(o.nk, 0) AS nk
      |  FROM (SELECT vec_id, label FROM embeddings) e
      |  LEFT JOIN occ o ON o.vec_id = e.vec_id),
      |agg AS (
      |  SELECT label, CAST(COUNT(*) AS HUGEINT) AS n,
      |    CAST(MAX(nk) AS BIGINT) AS max_k_occ,
      |    CAST(SUM(CASE WHEN nk = 0 THEN 1 ELSE 0 END) AS BIGINT)
      |      AS n_antihubs,
      |    CAST(SUM(nk) AS HUGEINT) AS s1,
      |    SUM(CAST(nk AS HUGEINT) * nk) AS s2,
      |    SUM(CAST(nk AS HUGEINT) * nk * nk) AS s3
      |  FROM full_ GROUP BY label)
      |SELECT CAST(label AS INT) AS label, CAST(n AS BIGINT) AS n_vecs,
      |  max_k_occ, n_antihubs,
      |  CASE WHEN n * s2 - s1 * s1 > 0 THEN
      |    round(CAST(n * n * s3 - 3 * n * s1 * s2 + 2 * s1 * s1 * s1
      |        AS DOUBLE) /
      |      sqrt(pow(CAST(n * s2 - s1 * s1 AS DOUBLE), 3.0)), 4)
      |  ELSE NULL END AS skewness
      |FROM agg ORDER BY label""".stripMargin

  // ------------------------------------------------------------------
  // q257: per-dimension quantization-readiness audit — for each of the
  // d embedding dimensions: value count, absolute max, mean, the
  // outlier factor absmax/rms (SmoothQuant/LLM.int8's activation-
  // outlier diagnostic — a dimension whose max dwarfs its rms forces
  // a per-TENSOR int8 scale to waste its range), and the dead-value
  // fraction under that per-tensor scale (values that would quantize
  // to 0 at scale = global_absmax/127, i.e. |x| < gmax/254 — the
  // resolution actually lost to the outlier dims). Run BEFORE
  // committing an embedding table to int8/PQ compression (q145/q149
  // measure the damage after; this says which dimensions cause it).
  //
  // Exactness: everything folds over a (dim, milli-value) tally —
  // embeddings are unit-scale floats, so the tally's key domain is
  // ≤ d·2001 groups REGARDLESS of corpus size and the only
  // corpus-sized exchange carries partial counts of those keys
  // (map-side combined). Sums/absmax/dead counts are exact
  // DECIMAL/HUGEINT off the tally; mean and dead_ppm are truncating
  // divisions; the outlier factor is ONE identical double expression
  // over exact integers in both engines (NULL on an all-zero dim).
  // The dead test |v|·254 < gmax is all-integer.
  //
  // 100 TB shape: one bounded-key tally exchange + dimension-domain
  // rollups; the global max is a 1-row broadcast off the same tally.
  // ------------------------------------------------------------------
  def q257QuantRange(spark: SparkSession, dir: String): DataFrame = {
    val dec = DecimalType(38, 0)
    val vals = Tables.embeddings(spark, dir)
      .filter(col("embedding").isNotNull && size(col("embedding")) === EmbDim)
      .select(posexplode(milliVec).as(Seq("dim", "v")))
    val tally = vals.groupBy(col("dim"), col("v"))
      .agg(count(lit(1)).as("c"))
      .localCheckpoint() // reused: global max AND the per-dim rollup
    val gmax = tally.agg(max(abs(col("v"))).as("gmax"))
    tally.crossJoin(broadcast(gmax))
      .withColumn("dead",
        when(abs(col("v")) * 254 < col("gmax"), col("c")).otherwise(0L))
      .groupBy(col("dim"))
      .agg(sum(col("c")).as("n_vals"),
        max(abs(col("v"))).as("absmax_milli"),
        sum(col("v").cast(dec) * col("c").cast(dec)).as("s1"),
        sum(col("v").cast(dec) * col("v").cast(dec) * col("c").cast(dec))
          .as("s2"),
        sum(col("dead")).as("dead_cnt"))
      .select(col("dim").cast(IntegerType).as("dim"),
        col("n_vals"),
        col("absmax_milli"),
        expr("CAST(s1 * 1000000 div n_vals AS BIGINT)").as("mean_nano"),
        when(col("s2") > 0,
          round(col("absmax_milli").cast(DoubleType) /
            sqrt(col("s2").cast(DoubleType) / col("n_vals").cast(DoubleType)) *
            lit(1000000.0), 0).cast(LongType))
          .otherwise(lit(null).cast(LongType)).as("outlier_micro"),
        expr("CAST(CAST(dead_cnt AS DECIMAL(38,0)) * 1000000 " +
          "div n_vals AS BIGINT)").as("dead_ppm"))
      .orderBy(col("dim"))
  }

  val q257Sql: String =
    """WITH ok AS (
      |  SELECT embedding FROM embeddings
      |  WHERE embedding IS NOT NULL AND len(embedding) = 64),
      |mil AS MATERIALIZED (
      |  SELECT CAST(r.i AS INT) AS dim,
      |    CAST(round(CAST(embedding[r.i + 1] AS DOUBLE) * 1000.0, 0)
      |      AS BIGINT) AS v
      |  FROM ok, range(64) r(i)),
      |tally AS MATERIALIZED (
      |  SELECT dim, v, CAST(COUNT(*) AS BIGINT) AS c
      |  FROM mil GROUP BY dim, v),
      |gm AS (SELECT MAX(abs(v)) AS gmax FROM tally),
      |agg AS (
      |  SELECT dim, CAST(SUM(c) AS BIGINT) AS n_vals,
      |    MAX(abs(v)) AS absmax_milli,
      |    SUM(CAST(v AS HUGEINT) * c) AS s1,
      |    SUM(CAST(v AS HUGEINT) * v * c) AS s2,
      |    CAST(SUM(CASE WHEN abs(v) * 254 < (SELECT gmax FROM gm)
      |      THEN c ELSE 0 END) AS HUGEINT) AS dead
      |  FROM tally GROUP BY dim)
      |SELECT dim, n_vals, absmax_milli,
      |  CAST(s1 * 1000000 // n_vals AS BIGINT) AS mean_nano,
      |  CASE WHEN s2 > 0 THEN
      |    CAST(round(CAST(absmax_milli AS DOUBLE) /
      |      sqrt(CAST(s2 AS DOUBLE) / CAST(n_vals AS DOUBLE)) *
      |      1000000.0, 0) AS BIGINT)
      |  ELSE NULL END AS outlier_micro,
      |  CAST(dead * 1000000 // n_vals AS BIGINT) AS dead_ppm
      |FROM agg ORDER BY dim""".stripMargin

  // ------------------------------------------------------------------
  // q262: per-label norm-spread audit — min/max/mean L2 norm and the
  // coefficient of variation per label. Dot-product rankers and
  // un-normalized kNN assume norms carry signal; a label whose norm
  // CV ≈ 0 has had its magnitudes collapsed (normalized twice, or a
  // dead encoder head) and cosine vs dot makes no difference there,
  // while a huge CV flags mixed provenance inside one label.
  // Complements q250 (directional collapse) with the magnitude axis.
  //
  // Exactness: per-row norm = round(sqrt(Σx_milli²)) — the inner sum
  // is an exact integer fold, sqrt is correctly rounded IEEE, so the
  // integer milli-norm is bit-equal in both engines. Label moments
  // are exact DECIMAL/HUGEINT over those integers; mean is a
  // truncating division; the CV is ONE identical double expression
  // (NULL for n < 2, zero mean, or zero variance numerator).
  //
  // 100 TB shape: row-local norms, ONE narrow (label, stats) exchange
  // with map-side combine. No join, no window.
  // ------------------------------------------------------------------
  def q262NormSpread(spark: SparkSession, dir: String): DataFrame = {
    val dec = DecimalType(38, 0)
    val sq = aggregate(milliVec, lit(0L), (acc, x) => acc + x * x)
    val rows = Tables.embeddings(spark, dir)
      .filter(col("embedding").isNotNull && size(col("embedding")) === EmbDim)
      .select(col("label").cast(IntegerType).as("label"),
        round(sqrt(sq.cast(DoubleType)), 0).cast(LongType).as("nm"))
    rows.groupBy(col("label"))
      .agg(count(lit(1)).as("n_vecs"),
        min(col("nm")).as("min_norm_milli"),
        max(col("nm")).as("max_norm_milli"),
        sum(col("nm").cast(dec)).as("s1"), // DECIMAL: oracle sums in HUGEINT
        sum(col("nm").cast(dec) * col("nm").cast(dec)).as("s2"))
      .select(col("label"), col("n_vecs"),
        col("min_norm_milli"), col("max_norm_milli"),
        expr("CAST(s1 div n_vecs AS BIGINT)").as("mean_norm_milli"),
        expr("CAST(CASE WHEN n_vecs >= 2 AND s1 > 0 AND " +
          "CAST(n_vecs AS DECIMAL(38,0)) * s2 - CAST(s1 AS DECIMAL(38,0)) " +
          "* s1 > 0 THEN " +
          "round(sqrt(CAST(CAST(n_vecs AS DECIMAL(38,0)) * s2 - " +
          "CAST(s1 AS DECIMAL(38,0)) * s1 AS DOUBLE) / " +
          "(CAST(n_vecs AS DOUBLE) * CAST(n_vecs - 1 AS DOUBLE))) * " +
          "CAST(n_vecs AS DOUBLE) / CAST(s1 AS DOUBLE) * 1000000.0, 0) " +
          "ELSE NULL END AS BIGINT)").as("cv_micro"))
      .orderBy(col("label"))
  }

  val q262Sql: String =
    """WITH ok AS (
      |  SELECT label, embedding FROM embeddings
      |  WHERE embedding IS NOT NULL AND len(embedding) = 64),
      |nm AS (
      |  SELECT CAST(label AS INT) AS label,
      |    CAST(round(sqrt(CAST(list_sum(list_transform(embedding,
      |      x -> CAST(round(CAST(x AS DOUBLE) * 1000.0, 0) AS BIGINT) *
      |           CAST(round(CAST(x AS DOUBLE) * 1000.0, 0) AS BIGINT)))
      |      AS DOUBLE)), 0) AS BIGINT) AS nm
      |  FROM ok),
      |agg AS (
      |  SELECT label, CAST(COUNT(*) AS BIGINT) AS n_vecs,
      |    MIN(nm) AS min_norm_milli, MAX(nm) AS max_norm_milli,
      |    CAST(SUM(nm) AS HUGEINT) AS s1,
      |    SUM(CAST(nm AS HUGEINT) * nm) AS s2
      |  FROM nm GROUP BY label)
      |SELECT label, n_vecs, min_norm_milli, max_norm_milli,
      |  CAST(s1 // n_vecs AS BIGINT) AS mean_norm_milli,
      |  CAST(CASE WHEN n_vecs >= 2 AND s1 > 0 AND
      |      CAST(n_vecs AS HUGEINT) * s2 - s1 * s1 > 0 THEN
      |    round(sqrt(CAST(CAST(n_vecs AS HUGEINT) * s2 - s1 * s1 AS DOUBLE) /
      |      (CAST(n_vecs AS DOUBLE) * CAST(n_vecs - 1 AS DOUBLE))) *
      |      CAST(n_vecs AS DOUBLE) / CAST(s1 AS DOUBLE) * 1000000.0, 0)
      |  ELSE NULL END AS BIGINT) AS cv_micro
      |FROM agg ORDER BY label""".stripMargin

  // ------------------------------------------------------------------
  // q263: label-centroid affinity matrix — the cosine between every
  // pair of label centroids, as ppm integers. Labels whose centroids
  // sit close are confusable AS CLASSES (q251's kNN disagreement
  // localizes noisy VECTORS; this says which label pairs the space
  // fails to separate at all — the signal a curriculum or a
  // stratified split should merge or re-annotate on). Cosine of the
  // centroid equals cosine of the per-label SUM vector (the 1/n
  // scaling cancels), so no division happens before the final
  // expression.
  //
  // Exactness: per-label per-dimension Σx_milli are exact integers
  // from the SAME LongGramAggregate pass q250 uses (fixed buffers,
  // map-side combine, |labels| buffers to the driver); pairwise dot
  // and norm products fold in driver BigInt; the final cosine is one
  // double expression over those exact integers, HALF_UP micro-
  // rounded via RoundParity (≡ both engines' round()). NULL when
  // either centroid sum is the zero vector.
  //
  // 100 TB shape: one exchange (the label gather of fixed-size
  // buffers); |labels|² driver arithmetic.
  // ------------------------------------------------------------------
  def q263CentroidAffinity(spark: SparkSession, dir: String): DataFrame = {
    val d = EmbDim
    val triLen = d * (d + 1) / 2
    import spark.implicits._
    val rows = Tables.embeddings(spark, dir)
      .filter(col("embedding").isNotNull && size(col("embedding")) === d)
      .groupBy(col("label"))
      .agg(graft.functions.LongGramAggregate.gram(milliVec, d).as("g"))
      .collect()
    val sums: Seq[(Int, Array[BigInt])] = rows.map { r =>
      val label = r.getAs[Number](0).intValue
      val g = r.getSeq[Long](1)
      label -> Array.tabulate(d)(i => BigInt(g(triLen + i)))
    }.sortBy(_._1).toSeq
    val out = for {
      i <- sums.indices; j <- (i + 1) until sums.size
    } yield {
      val (la, va) = sums(i)
      val (lb, vb) = sums(j)
      var dot = BigInt(0); var na = BigInt(0); var nb = BigInt(0)
      var k = 0
      while (k < d) {
        dot += va(k) * vb(k); na += va(k) * va(k); nb += vb(k) * vb(k)
        k += 1
      }
      val cos: Option[Long] =
        if (na > 0 && nb > 0)
          Some(graft.functions.RoundParity.round(
            dot.doubleValue / (math.sqrt(na.doubleValue) *
              math.sqrt(nb.doubleValue)) * 1000000.0, 0).toLong)
        else None
      (la, lb, cos)
    }
    out.toDF("label_a", "label_b", "cos_ppm")
      .select(col("label_a"), col("label_b"),
        col("cos_ppm").cast(LongType).as("cos_ppm"))
      .orderBy(col("label_a"), col("label_b"))
  }

  val q263Sql: String =
    """WITH ok AS (
      |  SELECT label, embedding FROM embeddings
      |  WHERE embedding IS NOT NULL AND len(embedding) = 64),
      |mil AS MATERIALIZED (
      |  SELECT CAST(label AS INT) AS label, CAST(r.i AS INT) AS i,
      |    CAST(round(CAST(embedding[r.i + 1] AS DOUBLE) * 1000.0, 0)
      |      AS BIGINT) AS x
      |  FROM ok, range(64) r(i)),
      |sums AS (
      |  SELECT label, i, CAST(SUM(x) AS HUGEINT) AS sx
      |  FROM mil GROUP BY label, i),
      |pair AS (
      |  SELECT a.label AS label_a, b.label AS label_b,
      |    SUM(a.sx * b.sx) AS dot,
      |    SUM(a.sx * a.sx) AS na,
      |    SUM(b.sx * b.sx) AS nb
      |  FROM sums a JOIN sums b ON a.i = b.i AND a.label < b.label
      |  GROUP BY a.label, b.label)
      |SELECT label_a, label_b,
      |  CAST(CASE WHEN na > 0 AND nb > 0 THEN
      |    round(CAST(dot AS DOUBLE) / (sqrt(CAST(na AS DOUBLE)) *
      |      sqrt(CAST(nb AS DOUBLE))) * 1000000.0, 0)
      |  ELSE NULL END AS BIGINT) AS cos_ppm
      |FROM pair ORDER BY label_a, label_b""".stripMargin

  // ------------------------------------------------------------------
  // q269: quantization reconstruction-error audit — the ERROR-side
  // companion to q145 (which measures what quantization does to
  // RANKINGS) and q257 (which measures whether the per-dim ranges are
  // quantization-ready): for each width b ∈ {2, 4, 6, 8} bits,
  // symmetric per-dim absmax quantization (q145's exact formula:
  // round(v/s·qmax), reconstruct qv·s/qmax), report the corpus mean
  // squared reconstruction error, the mean squared signal, and the
  // signal-to-error ratio — the table that says which width is safe
  // BEFORE the recall sweep runs.
  //
  // Exactness: per-element error and signal round HALF_UP to micro
  // units (the q258 addend protocol; the v/s·qmax → round → ·s/qmax
  // chain is the identical IEEE double sequence in both engines, the
  // q145 contract), then everything is exact integer sums —
  // DECIMAL-widened squares, one truncating ppm division.
  //
  // 100 TB shape: ONE dimension-sized scales aggregate (collected like
  // a centroid table), then ONE posexplode scan with a 4-width fan-out
  // feeding a map-side-combined 4-group aggregate — no joins, no
  // per-vector state; the fan-out multiplies rows 4× before the
  // combine but each mapper emits 4 partial rows.
  // ------------------------------------------------------------------
  def q269QuantError(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val widths = Seq(2, 4, 6, 8)
    // the sibling queries' EmbDim eligibility filter: the collected
    // scales array is indexed by position, so the row population must
    // be exactly the non-null 64-dim vectors the oracle's fixed
    // range(1, 65) scales pass assumes
    val emb = Tables.embeddings(spark, dir)
      .filter(col("embedding").isNotNull &&
        size(col("embedding")) === EmbDim)
    val scales: Array[Double] = emb
      .select(posexplode(col("embedding")).as(Seq("pos", "x")))
      .groupBy(col("pos")).agg(max(abs(col("x").cast(DoubleType))).as("mx"))
      .orderBy(col("pos"))
      .select(col("mx")).as[Double].collect()
    val sArr = array(scales.map(lit): _*)
    val pe = emb.select(posexplode(col("embedding")).as(Seq("i", "x")))
      .select(col("x").cast(DoubleType).as("v"),
        element_at(sArr, col("i") + 1).as("s"))
    val fan = pe.select(col("v"), col("s"),
      explode(array(widths.map(b => struct(lit(b.toLong).as("bits"),
        lit(((1L << (b - 1)) - 1).toDouble).as("qmax"))): _*)).as("w"))
      .select(col("v"), col("s"),
        col("w.bits").as("bits"), col("w.qmax").as("qmax"))
    val qv = when(col("s") > 0,
      round(col("v") / col("s") * col("qmax"), 0)).otherwise(lit(0.0))
    val rec = when(col("s") > 0, qv * col("s") / col("qmax"))
      .otherwise(lit(0.0))
    fan.select(col("bits"),
        round((col("v") - rec) * 1000000.0, 0).cast(LongType).as("e"),
        round(col("v") * 1000000.0, 0).cast(LongType).as("g"))
      .groupBy(col("bits"))
      .agg(count(lit(1)).as("n_vals"),
        expr("CAST(SUM(CAST(e AS DECIMAL(38,0)) * CAST(e AS DECIMAL(38,0))) " +
          "div COUNT(*) AS BIGINT)").as("mean_err_micro2"),
        expr("CAST(SUM(CAST(g AS DECIMAL(38,0)) * CAST(g AS DECIMAL(38,0))) " +
          "div COUNT(*) AS BIGINT)").as("mean_sig_micro2"))
      .withColumn("sig_over_err_ppm",
        expr("CAST(CAST(mean_sig_micro2 AS DECIMAL(38,0)) * 1000000 " +
          "div greatest(mean_err_micro2, 1) AS BIGINT)"))
      .orderBy(col("bits"))
  }

  val q269Sql: String =
    """WITH e AS (
      |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
      |  FROM embeddings
      |  WHERE embedding IS NOT NULL AND len(embedding) = 64),
      |scales AS (
      |  SELECT list(mx ORDER BY i) AS s FROM (
      |    SELECT r.range AS i, MAX(ABS(v[r.range])) AS mx
      |    FROM e CROSS JOIN range(1, 65) r GROUP BY r.range)),
      |bs(bits) AS (VALUES (2), (4), (6), (8)),
      |bq AS (SELECT bits, CAST(pow(2, bits - 1) AS BIGINT) - 1 AS qmax FROM bs),
      |pe AS (
      |  -- parallel unnests of equal-length lists zip positionally
      |  SELECT unnest(e.v) AS v,
      |    unnest(list_transform(range(1, len(e.v) + 1),
      |      j -> s.s[CAST(j AS INT)])) AS sc
      |  FROM e, scales s),
      |fan AS (
      |  SELECT b.bits, b.qmax, pe.v, pe.sc FROM pe CROSS JOIN bq b),
      |vals AS (
      |  SELECT bits,
      |    CAST(round((v - CASE WHEN sc > 0
      |      THEN round(v / sc * qmax) * sc / qmax ELSE 0 END) * 1000000)
      |      AS BIGINT) AS e,
      |    CAST(round(v * 1000000) AS BIGINT) AS g
      |  FROM fan),
      |agg AS (
      |  SELECT bits, CAST(COUNT(*) AS BIGINT) AS n_vals,
      |    CAST(SUM(CAST(e AS HUGEINT) * CAST(e AS HUGEINT)) // COUNT(*)
      |      AS BIGINT) AS mean_err_micro2,
      |    CAST(SUM(CAST(g AS HUGEINT) * CAST(g AS HUGEINT)) // COUNT(*)
      |      AS BIGINT) AS mean_sig_micro2
      |  FROM vals GROUP BY bits)
      |SELECT CAST(bits AS BIGINT) AS bits, n_vals, mean_err_micro2,
      |  mean_sig_micro2,
      |  CAST(CAST(mean_sig_micro2 AS HUGEINT) * 1000000
      |    // greatest(mean_err_micro2, 1) AS BIGINT) AS sig_over_err_ppm
      |FROM agg ORDER BY bits""".stripMargin
}
