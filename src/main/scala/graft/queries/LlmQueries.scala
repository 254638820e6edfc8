package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.operators.{Dedup, Multimodal, Similarity, TextAnalysis}
import graft.sources.Tables

/**
 * LLM-training-data pipeline queries (north-star additions per
 * BASELINE.json): dedup family, similarity search, text analysis,
 * multimodal plumbing — each over the documents/embeddings tables with a
 * DuckDB oracle replicating the same deterministic algorithm.
 */
object LlmQueries {

  // language-marker lists (inputs to the algorithm, chosen from the
  // synthetic corpus vocabulary; ties resolve to the LAST language code)
  val Markers: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "a", "fast", "slow"),
    "es" -> Seq("order", "sort", "data"),
    "zh" -> Seq("spark", "query", "table"))

  val Stopwords: Seq[String] = Seq("the", "a", "and", "of", "to")

  /** Exact dedup (hash-groupBy): one shuffle on the content hash. */
  def q30DedupExact(spark: SparkSession, dir: String): DataFrame =
    Dedup.exact(Tables.documents(spark, dir), "doc_id", "text")

  // ------------------------------------------------------------------
  // q220: soft-dedup weights and effective dataset size — the
  // alternative to DROPPING duplicates (q30/q61): keep every copy but
  // downweight it by 1/cluster_size (SoftDeDup-style loss weighting),
  // so the corpus' EFFECTIVE size is Σ 1/c over docs = the distinct
  // count, and per-source effective token mass shows which sources'
  // apparent volume is duplication. weight_micro = 1e6 div c exact;
  // eff_tokens_micro sums (toks·1e6) div c per doc.
  //
  // Scale shape: one content-hash tally (the q30 shuffle), join back
  // co-shuffled on the hash, one per-source rollup — no new wide
  // state; everything after the collapse moves 32-char digests.
  // ------------------------------------------------------------------
  def q220SoftDedup(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
      .select(col("source"), md5(col("text")).as("h"),
        expr("CAST(size(split(text, ' ')) AS BIGINT)").as("toks"))
    val sizes = docs.groupBy(col("h")).agg(count(lit(1)).as("c"))
    docs.join(sizes, "h")
      .groupBy(col("source"))
      .agg(count(lit(1)).as("raw_docs"),
        sum(col("toks")).as("raw_tokens"),
        sum(expr("1000000 div c")).as("eff_docs_micro"),
        sum(expr("(toks * 1000000) div c")).as("eff_tokens_micro"))
      .withColumn("dup_factor_permille",
        expr("(raw_tokens * 1000000000) div greatest(eff_tokens_micro, 1)"))
  }

  val q220Sql: String =
    """WITH d AS (
      |  SELECT source, md5(text) AS h,
      |    CAST(len(string_split(text, ' ')) AS BIGINT) AS toks
      |  FROM documents),
      |sz AS (SELECT h, CAST(COUNT(*) AS BIGINT) AS c FROM d GROUP BY h)
      |SELECT source, CAST(COUNT(*) AS BIGINT) AS raw_docs,
      |  CAST(SUM(toks) AS BIGINT) AS raw_tokens,
      |  CAST(SUM(1000000 // c) AS BIGINT) AS eff_docs_micro,
      |  CAST(SUM((toks * 1000000) // c) AS BIGINT) AS eff_tokens_micro,
      |  CAST((SUM(toks) * 1000000000)
      |    // GREATEST(SUM((toks * 1000000) // c), 1) AS BIGINT)
      |    AS dup_factor_permille
      |FROM d JOIN sz USING (h)
      |GROUP BY source""".stripMargin

  // ------------------------------------------------------------------
  // q222: cross-source near-dup contamination matrix — q147 maps
  // EXACT-copy overlap between sources; syndication and scraping
  // overlap is mostly NEAR duplicates, so this rolls q31's verified
  // MinHash-LSH pairs up to a (source, source) matrix: which source
  // pairs share edited/truncated copies, and how many docs each cell
  // touches. The matrix is the triage input for source-level dedup
  // ordering (drop the mirror, keep the origin).
  //
  // Scale shape: q31's plan (band-key shuffle + verify) + two
  // id-keyed source lookups co-shuffled on the endpoint ids + a
  // source²-dimension tally; the doc-count column explodes each pair
  // into its two endpoints before a distinct count — still pair-sized.
  // ------------------------------------------------------------------
  def q222SourceNearDupMatrix(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val src = docs.select(col("doc_id"), col("source"))
    val pairs = Dedup.minhashNearDups(docs, "doc_id", "text",
        threshold = 0.35, numHashes = 9, bands = 3, shingle = 3)
      .join(src.withColumnRenamed("doc_id", "id_a")
        .withColumnRenamed("source", "sa"), "id_a")
      .join(src.withColumnRenamed("doc_id", "id_b")
        .withColumnRenamed("source", "sb"), "id_b")
      .select(least(col("sa"), col("sb")).as("source_a"),
        greatest(col("sa"), col("sb")).as("source_b"),
        col("id_a"), col("id_b"))
      .localCheckpoint() // read by the pair tally and the doc explode
    val cells = pairs.groupBy(col("source_a"), col("source_b"))
      .agg(count(lit(1)).as("n_pairs"))
    val docsPerCell = pairs
      .select(col("source_a"), col("source_b"),
        explode(array(col("id_a"), col("id_b"))).as("id"))
      .groupBy(col("source_a"), col("source_b"))
      .agg(countDistinct(col("id")).as("n_docs"))
    cells.join(docsPerCell, Seq("source_a", "source_b"))
      .withColumn("cross_source",
        (col("source_a") =!= col("source_b")).cast("int").cast(LongType))
  }

  val q222Sql: String =
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
      |  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
      |    a.shingles AS sh_a, b.shingles AS sh_b
      |  FROM banded a JOIN banded b
      |    ON a.band_key = b.band_key AND a.doc_id < b.doc_id),
      |pairs AS (
      |  SELECT id_a, id_b FROM cand
      |  WHERE CAST(len(list_distinct(list_intersect(sh_a, sh_b))) AS DOUBLE)
      |      / CAST(len(list_distinct(sh_a || sh_b)) AS DOUBLE) >= 0.35),
      |sp AS (
      |  SELECT LEAST(da.source, db.source) AS source_a,
      |    GREATEST(da.source, db.source) AS source_b, id_a, id_b
      |  FROM pairs
      |  JOIN documents da ON pairs.id_a = da.doc_id
      |  JOIN documents db ON pairs.id_b = db.doc_id),
      |cells AS (
      |  SELECT source_a, source_b, CAST(COUNT(*) AS BIGINT) AS n_pairs
      |  FROM sp GROUP BY 1, 2),
      |dpc AS (
      |  SELECT source_a, source_b,
      |    CAST(COUNT(DISTINCT id) AS BIGINT) AS n_docs
      |  FROM (SELECT source_a, source_b, id_a AS id FROM sp
      |        UNION ALL SELECT source_a, source_b, id_b FROM sp)
      |  GROUP BY 1, 2)
      |SELECT source_a, source_b, n_pairs, n_docs,
      |  CAST(CASE WHEN source_a <> source_b THEN 1 ELSE 0 END AS BIGINT)
      |    AS cross_source
      |FROM cells JOIN dpc USING (source_a, source_b)""".stripMargin

  val q30Sql: String =
    """SELECT sha256(text) AS content_hash, MIN(doc_id) AS keep_id,
      |  COUNT(*) AS n_copies
      |FROM documents GROUP BY sha256(text)""".stripMargin

  /** MinHash+LSH near-dup pairs: banded signatures → bucket self-join →
    * exact Jaccard verify. The only shuffle is on the band key. */
  def q31MinhashLsh(spark: SparkSession, dir: String): DataFrame =
    Dedup.minhashNearDups(Tables.documents(spark, dir), "doc_id", "text",
      threshold = 0.35, numHashes = 9, bands = 3, shingle = 3)

  val q31Sql: String =
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
      |  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
      |    a.shingles AS sh_a, b.shingles AS sh_b
      |  FROM banded a JOIN banded b
      |    ON a.band_key = b.band_key AND a.doc_id < b.doc_id)
      |SELECT id_a, id_b,
      |  CAST(len(list_distinct(list_intersect(sh_a, sh_b))) AS DOUBLE)
      |    / CAST(len(list_distinct(sh_a || sh_b)) AS DOUBLE) AS jaccard
      |FROM cand
      |WHERE CAST(len(list_distinct(list_intersect(sh_a, sh_b))) AS DOUBLE)
      |    / CAST(len(list_distinct(sh_a || sh_b)) AS DOUBLE) >= 0.35""".stripMargin

  // ------------------------------------------------------------------
  // q184: LSH S-curve calibration — before trusting a (bands, rows)
  // banding in production dedup, measure its empirical candidate
  // recall/precision against brute-force Jaccard ground truth (the
  // dedup-family twin of the ANN recall sweeps q144-q149). One shared
  // signature pass feeds three band layouts of the same 9 hashes:
  // (1×9) whole-signature match (strict), (3×3) the production
  // default, (9×1) single-hash buckets (loose). Ground truth is EXACT
  // but never all-pairs: J ≥ θ > 0 implies a shared shingle, so truth
  // pairs come from an inverted-index self-join + exact verify (the
  // q114 AllPairs shape, unpruned for completeness). All ratios are
  // integer permille of exact counts.
  // ------------------------------------------------------------------
  def q184LshSCurve(spark: SparkSession, dir: String): DataFrame = {
    val numHashes = 9; val shingle = 3; val threshold = 0.35
    // Controlled near-dup spectrum: each base doc gets a truncated
    // variant (drop the trailing id%12 words), so pair Jaccard sweeps
    // ~0.3→1.0 across ids and the three bandings separate visibly —
    // natural near-dups alone are too sparse in a 300-doc decimation
    // to measure recall against.
    val base = Tables.documents(spark, dir).filter(col("doc_id") < 300)
      .select(col("doc_id").cast(LongType).as("id"), col("text"))
    val words = split(col("text"), " ")
    val variant = base.select((col("id") + 100000L).as("id"),
      array_join(slice(words, lit(1),
        greatest(size(words) - (col("id") % 12).cast(IntegerType), lit(3))),
        " ").as("text"))
    val classes = base.unionByName(variant)
      .groupBy(col("text")).agg(min(col("id")).as("id"))
    val withSig = classes.select(col("id"),
        graft.functions.TextHashFunctions
          .shingleMinhash(col("text"), numHashes, shingle).as("sm"))
      .localCheckpoint() // reused by 3 band layouts + the truth join
      .select(col("id"), col("sm.shingles").as("sh"), col("sm.sig").as("sig"))
      .filter(size(col("sh")) > 0)
    val sets = withSig.select(col("id"), col("sh"))
    // Ground truth WITHOUT an all-pairs join: a pair with J ≥ θ > 0
    // must share a shingle, so exact truth is inverted-index candidate
    // generation (shared-shingle self-join on distinct (id, shingle))
    // + exact Jaccard verify — the same relational shape the AllPairs
    // operator (q114) scales with, here unpruned because truth must be
    // complete. ~4× cheaper than the cross join at this decimation and
    // the formulation a corpus-scale calibration would actually run.
    val inv = withSig.select(col("id"),
      explode(array_distinct(col("sh"))).as("s"))
    val truth = inv.alias("a")
      .join(inv.alias("b"), col("a.s") === col("b.s") && col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .dropDuplicates("id_a", "id_b")
      .join(sets.select(col("id").as("id_a"), col("sh").as("sh_a")), "id_a")
      .join(sets.select(col("id").as("id_b"), col("sh").as("sh_b")), "id_b")
      .filter(Dedup.jaccard(col("sh_a"), col("sh_b")) >= threshold)
      .select(col("id_a"), col("id_b"))
      .localCheckpoint() // read once per config + once for the total
    val perConfig = Seq(("b1r9", 1), ("b3r3", 3), ("b9r1", 9)).map {
      case (nm, bands) =>
        val rowsN = numHashes / bands
        val banded = withSig.select(col("id"),
          explode(array((0 until bands).map(b =>
            Dedup.bandKey(col("sig"), b, rowsN)): _*)).as("bk"))
        val cand = banded.alias("a")
          .join(banded.alias("b"),
            col("a.bk") === col("b.bk") && col("a.id") < col("b.id"))
          .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
          .dropDuplicates("id_a", "id_b")
          .localCheckpoint() // counted + semi-joined
        cand.agg(count(lit(1)).as("n_cand")).crossJoin(
          cand.join(truth, Seq("id_a", "id_b"), "left_semi")
            .agg(count(lit(1)).as("n_hit")))
          .select(lit(nm).as("config"), col("n_cand"), col("n_hit"))
    }
    perConfig.reduce(_ unionByName _)
      .crossJoin(broadcast(truth.agg(count(lit(1)).as("n_truth"))))
      .select(col("config"), col("n_cand"), col("n_hit"), col("n_truth"),
        expr("n_hit * 1000 div greatest(n_truth, 1)").as("recall_pm"),
        expr("n_hit * 1000 div greatest(n_cand, 1)").as("precision_pm"))
  }

  val q184Sql: String =
    s"""WITH base AS (
      |  SELECT CAST(doc_id AS BIGINT) AS id, text FROM documents
      |  WHERE doc_id < 300),
      |var AS (
      |  SELECT id + 100000 AS id,
      |    array_to_string(list_slice(string_split(text, ' '), 1,
      |      greatest(len(string_split(text, ' ')) - CAST(id % 12 AS INT), 3)),
      |      ' ') AS text
      |  FROM base),
      |cls AS (
      |  SELECT MIN(id) AS id, text
      |  FROM (SELECT * FROM base UNION ALL SELECT * FROM var) GROUP BY text),
      |toks AS (SELECT id, string_split(text, ' ') AS t FROM cls),
      |sh AS (
      |  SELECT id, list_transform(range(1, greatest(len(t) - 2, 0) + 1),
      |    i -> concat_ws(' ', t[i], t[i+1], t[i+2])) AS shingles
      |  FROM toks),
      |hashed AS (
      |  SELECT id, shingles FROM sh WHERE len(shingles) > 0),
      |${MinhashSql.sigCtes("hashed", "id")}
      |inv AS (
      |  SELECT id, unnest(list_distinct(shingles)) AS s FROM hashed),
      |cpairs AS (
      |  SELECT DISTINCT a.id AS id_a, b.id AS id_b
      |  FROM inv a JOIN inv b ON a.s = b.s AND a.id < b.id),
      |truth AS (
      |  SELECT c.id_a, c.id_b
      |  FROM cpairs c
      |  JOIN hashed a ON a.id = c.id_a JOIN hashed b ON b.id = c.id_b
      |  WHERE CAST(len(list_distinct(list_intersect(a.shingles, b.shingles))) AS DOUBLE)
      |      / CAST(len(list_distinct(a.shingles || b.shingles)) AS DOUBLE) >= 0.35),
      |cfg AS (SELECT * FROM (VALUES ('b1r9', 1, 9), ('b3r3', 3, 3), ('b9r1', 9, 1))
      |  AS t(config, bands, r)),
      |banded AS (
      |  SELECT c.config, s.id,
      |    unnest(list_transform(range(0, c.bands),
      |      b -> md5(array_to_string(list_slice(s.sig, b*c.r+1, b*c.r+c.r), '|')
      |             || '|' || CAST(b AS VARCHAR)))) AS bk
      |  FROM sig s CROSS JOIN cfg c),
      |cand AS (
      |  SELECT DISTINCT a.config, a.id AS id_a, b.id AS id_b
      |  FROM banded a JOIN banded b
      |    ON a.config = b.config AND a.bk = b.bk AND a.id < b.id),
      |tallies AS (
      |  SELECT c.config, COUNT(*) AS n_cand,
      |    SUM(CASE WHEN t.id_a IS NOT NULL THEN 1 ELSE 0 END) AS n_hit
      |  FROM cand c LEFT JOIN truth t
      |    ON c.id_a = t.id_a AND c.id_b = t.id_b
      |  GROUP BY c.config)
      |-- a config with ZERO candidates still reports a row (strict
      |-- bandings can empty out at small SF): outer-join the config dim
      |SELECT cfg.config, CAST(COALESCE(n_cand, 0) AS BIGINT) AS n_cand,
      |  CAST(COALESCE(n_hit, 0) AS BIGINT) AS n_hit,
      |  CAST((SELECT COUNT(*) FROM truth) AS BIGINT) AS n_truth,
      |  CAST(COALESCE(n_hit, 0) * 1000
      |    // greatest((SELECT COUNT(*) FROM truth), 1) AS BIGINT) AS recall_pm,
      |  CAST(COALESCE(n_hit, 0) * 1000
      |    // greatest(COALESCE(n_cand, 0), 1) AS BIGINT) AS precision_pm
      |FROM cfg LEFT JOIN tallies ON cfg.config = tallies.config""".stripMargin

  /** SimHash fingerprints, grouped by 8-bit prefix (the banding used for
    * hamming-neighbor candidate generation). */
  def q32Simhash(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
      .select(col("doc_id"), Dedup.simhashBits(col("text")).as("simhash"))
    docs.groupBy(substring(col("simhash"), 1, 8).as("prefix"))
      .agg(count(lit(1)).as("n_docs"), min(col("doc_id")).as("min_doc"))
  }

  val q32Sql: String =
    """WITH tok AS (
      |  SELECT doc_id, unnest(string_split(text, ' ')) AS t FROM documents),
      |bits AS (
      |  SELECT doc_id, j,
      |    SUM(CASE WHEN (CAST(strpos('0123456789abcdef',
      |        substr(md5(t), CAST(j // 4 AS INT) + 1, 1)) AS INT) - 1)
      |        // CAST(pow(2, j % 4) AS INT) % 2 = 1
      |      THEN 1 ELSE -1 END) AS s
      |  FROM tok CROSS JOIN range(64) r(j)
      |  GROUP BY doc_id, j),
      |sim AS (
      |  SELECT doc_id,
      |    string_agg(CASE WHEN s > 0 THEN '1' ELSE '0' END, '' ORDER BY j) AS simhash
      |  FROM bits GROUP BY doc_id)
      |SELECT substr(simhash, 1, 8) AS prefix, COUNT(*) AS n_docs,
      |  MIN(doc_id) AS min_doc
      |FROM sim GROUP BY 1""".stripMargin

  /**
   * n-gram Jaccard similarity pairs within the same language — via an
   * INVERTED INDEX, not a pairwise array-intersect join: explode distinct
   * shingles, self-join on (lang, shingle) to count the intersection per
   * pair, then jaccard = inter / (|a| + |b| - inter). Pairs sharing no
   * shingle never materialize, the shuffle carries (id, shingle) rows
   * instead of whole shingle arrays, and the intersection is a hash
   * aggregate. (The naive pairwise form measured 263s at sf0.1; this
   * form is ~20×  faster and is the formulation that survives 100 TB.)
   */
  def q33NgramJaccard(spark: SparkSession, dir: String): DataFrame = {
    // Exact-class collapse FIRST (q31's duplicate-blowup guard, added
    // round 15): the posting self-join below is quadratic in
    // per-shingle df, and corpus duplication multiplies df by the
    // duplication factor — the uncollapsed form measured 36× wall on
    // the 10× replica (d ≈ 10 duplicate classes ⇒ d² posting pairs)
    // vs 1.4× collapsed, with the ×d² duplicate OUTPUT pairs restored
    // by the member expansion, whose cost is the output size itself.
    // Classes key on (lang, text): the pair join is lang-local, and
    // identical texts share every shingle, so member pairs inherit
    // the class score (exactly 1.0 within a class).
    val classes = Tables.documents(spark, dir)
      .groupBy(col("lang"), col("text"))
      .agg(min(col("doc_id")).as("cid"),
        collect_list(col("doc_id")).as("members"))
      .select(col("lang"), col("cid"), col("members"),
        array_distinct(graft.functions.TextHashFunctions
          .shingleMinhash(col("text"), 1, 3).getField("shingles")).as("sh"))
      .filter(size(col("sh")) > 0)
      .select(col("lang"), col("cid"), col("members"), col("sh"),
        size(col("sh")).as("n_sh"))
      .localCheckpoint() // read by the posting join + both expansion sides

    val inverted = classes.select(col("cid"), col("lang"), col("n_sh"),
      explode(col("sh")).as("shingle"))

    val classPairs = inverted.alias("a")
      .join(inverted.alias("b"),
        col("a.lang") === col("b.lang") && col("a.shingle") === col("b.shingle") &&
          col("a.cid") < col("b.cid"))
      .groupBy(col("a.cid").as("ca"), col("b.cid").as("cb"),
        col("a.n_sh").as("n_a"), col("b.n_sh").as("n_b"))
      .agg(count(lit(1)).as("inter"))
      .withColumn("jaccard", col("inter").cast(DoubleType) /
        (col("n_a") + col("n_b") - col("inter")).cast(DoubleType))
      .filter(col("jaccard") >= 0.2)
      .select(col("ca"), col("cb"), col("jaccard"))

    // member re-expansion (CollapseExpand owns the invariants):
    // within-class pairs have identical shingle sets ⇒ Jaccard exactly
    // 1.0 ≥ 0.2, always emitted by the uncollapsed pipeline
    val membersOf = classes.select(col("cid"), col("members"))
    val pairsWithMembers = classPairs
      .join(membersOf.select(col("cid").as("ca"), col("members").as("ma")), "ca")
      .join(membersOf.select(col("cid").as("cb"), col("members").as("mb")), "cb")
      .select(col("ma"), col("mb"), col("jaccard"))
    graft.operators.CollapseExpand.expand(pairsWithMembers,
      classes.select(col("members"), lit(1.0).as("jaccard")), "jaccard")
  }

  val q33Sql: String =
    """WITH sh AS (
      |  SELECT doc_id, lang,
      |    list_distinct(list_transform(
      |      range(1, greatest(len(string_split(text,' ')) - 2, 0) + 1),
      |      i -> concat_ws(' ', string_split(text,' ')[i],
      |                          string_split(text,' ')[i+1],
      |                          string_split(text,' ')[i+2]))) AS s
      |  FROM documents),
      |pairs AS (
      |  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
      |    CAST(len(list_distinct(list_intersect(a.s, b.s))) AS DOUBLE)
      |      / CAST(len(list_distinct(a.s || b.s)) AS DOUBLE) AS jaccard
      |  FROM sh a JOIN sh b ON a.lang = b.lang AND a.doc_id < b.doc_id
      |  WHERE len(a.s) > 0 AND len(b.s) > 0)
      |SELECT id_a, id_b, jaccard FROM pairs WHERE jaccard >= 0.2""".stripMargin

  /** Embedding near-dup pairs via LSH buckets + cosine threshold. */
  def q34EmbedNearDups(spark: SparkSession, dir: String): DataFrame =
    Similarity.embeddingNearDups(Tables.embeddings(spark, dir),
      "vec_id", "embedding", threshold = 0.2, planes = 8, prefixBits = 4)

  val q34Sql: String =
    """WITH e AS (
      |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
      |  FROM embeddings),
      |proj AS (
      |  SELECT e.vec_id, p.p,
      |    SUM(e.v[CAST(i.i AS INT) + 1] *
      |      CASE WHEN substr(md5('plane' || p.p || ':' || i.i), 1, 1) >= '8'
      |           THEN 1.0 ELSE -1.0 END) AS pr
      |  FROM e CROSS JOIN range(8) p(p) CROSS JOIN range(64) i(i)
      |  GROUP BY e.vec_id, p.p),
      |sig AS (
      |  SELECT vec_id,
      |    substr(string_agg(CASE WHEN pr >= 0 THEN '1' ELSE '0' END, '' ORDER BY p), 1, 4) AS bucket
      |  FROM proj GROUP BY vec_id),
      |withv AS (
      |  SELECT s.vec_id, s.bucket, e.v FROM sig s JOIN e ON s.vec_id = e.vec_id)
      |SELECT a.vec_id AS id_a, b.vec_id AS id_b,
      |  ROUND(list_dot_product(a.v, b.v) /
      |    (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))), 4) AS sim
      |FROM withv a JOIN withv b ON a.bucket = b.bucket AND a.vec_id < b.vec_id
      |WHERE ROUND(list_dot_product(a.v, b.v) /
      |    (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))), 4) >= 0.2""".stripMargin

  /** Brute-force cosine top-k: every vec_id<10 queries the corpus. */
  def q35CosineTopK(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
    val queries = emb.filter(col("vec_id") < 10)
      .select(col("vec_id").as("query_vec_id"), col("embedding").as("qvec"))
    Similarity.bruteForceTopK(emb, queries,
      "vec_id", "embedding", "query_vec_id", "qvec", k = 3)
      .select(col("query_id"), col("neighbor_id"), col("rank"), col("sim"))
  }

  val q35Sql: String =
    """WITH q AS (SELECT vec_id AS query_id,
      |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS qv
      |  FROM embeddings WHERE vec_id < 10),
      |c AS (SELECT vec_id AS neighbor_id,
      |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS cv
      |  FROM embeddings),
      |sims AS (
      |  SELECT query_id, neighbor_id,
      |    ROUND(list_dot_product(qv, cv) /
      |      (sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(cv, cv))), 4) AS sim
      |  FROM q CROSS JOIN c WHERE query_id <> neighbor_id),
      |ranked AS (
      |  SELECT query_id, neighbor_id, sim,
      |    ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id ASC) AS rank
      |  FROM sims)
      |SELECT query_id, neighbor_id, rank, sim FROM ranked WHERE rank <= 3""".stripMargin

  // ------------------------------------------------------------------
  // q126: mutual-kNN graph over embeddings — the edge set semantic-
  // clustering pipelines build before community detection (SemDeDup's
  // blocking graph, dataset-cartography neighborhoods): (a,b) is an
  // edge iff b is in a's top-3 cosine neighbors AND a is in b's.
  // Exact, over an ABSOLUTE-size decimation (the q248/q232
  // sampleModulus convention): modulus = max(1, n div 400), so the
  // anchor holds ~400 vectors (≤ ~640k scored pairs) at ANY corpus
  // size — the round-14 fixed %5 grew the pair matrix as (N/5)². The
  // oracle derives the SAME modulus in SQL. The all-pairs score
  // matrix over that bounded sample is the exact baseline (same
  // contract as q35 vs q42 — brute force is the CORRECTNESS anchor;
  // at corpus scale the identical mutual filter composes over
  // `Similarity.ivfTopK`'s partitioned index instead of the broadcast
  // cross join). Plan: one broadcast of the decimated query side,
  // per-query bounded top-k heaps (map-side pruning, no global sort),
  // then the mutuality semi-join on the directed edge set — each side
  // of which is ≤ 3·n rows.
  // ------------------------------------------------------------------
  def q126MutualKnn(spark: SparkSession, dir: String): DataFrame = {
    val all = Tables.embeddings(spark, dir)
    val modulus = graft.queries.StatsQueries.sampleModulus(all.count(), 400L)
    val emb = all
      .filter(col("vec_id") % modulus === 0)
      .select(col("vec_id"), col("embedding"))
    val knn = Similarity.bruteForceTopK(emb,
      emb.select(col("vec_id").as("qid"), col("embedding").as("qv")),
      "vec_id", "embedding", "qid", "qv", k = 3)
    val fwd = knn.filter(col("query_id") < col("neighbor_id"))
      .select(col("query_id").as("a"), col("neighbor_id").as("b"), col("sim"))
    val rev = knn.filter(col("query_id") > col("neighbor_id"))
      .select(col("neighbor_id").as("a"), col("query_id").as("b"))
    fwd.join(rev, Seq("a", "b"), "left_semi")
  }

  val q126Sql: String =
    """WITH m_ AS (SELECT greatest(1, COUNT(*) // 400) AS m FROM embeddings),
      |e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
      |  FROM embeddings WHERE vec_id % (SELECT m FROM m_) = 0),
      |sims AS (SELECT a.vec_id AS qa, b.vec_id AS qb,
      |    ROUND(list_dot_product(a.v, b.v) /
      |      (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))), 4) AS sim
      |  FROM e a JOIN e b ON a.vec_id <> b.vec_id),
      |ranked AS (SELECT qa, qb, sim,
      |    ROW_NUMBER() OVER (PARTITION BY qa ORDER BY sim DESC, qb ASC) AS rk
      |  FROM sims)
      |SELECT r1.qa AS a, r1.qb AS b, r1.sim AS sim
      |FROM ranked r1 JOIN ranked r2 ON r1.qa = r2.qb AND r1.qb = r2.qa
      |WHERE r1.rk <= 3 AND r2.rk <= 3 AND r1.qa < r1.qb""".stripMargin

  /** IVF ANN top-k (the partitioned-index scale path; q35 is the exact
    * brute-force baseline over the same queries). */
  def q42IvfTopK(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
    val queries = emb.filter(col("vec_id") < 10)
      .select(col("vec_id").as("query_vec_id"), col("embedding").as("qvec"))
    Similarity.ivfTopK(emb, queries,
      "vec_id", "embedding", "query_vec_id", "qvec",
      k = 3, nlist = 16, nprobe = 4)
      .select(col("query_id"), col("neighbor_id"), col("rank"), col("sim"))
  }

  val q42Sql: String =
    """WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
      |  FROM embeddings),
      |cent AS (SELECT vec_id AS cid, v AS cv FROM e ORDER BY vec_id ASC LIMIT 16),
      |asgn AS (
      |  SELECT vec_id, cid FROM (
      |    SELECT e.vec_id, cent.cid,
      |      ROW_NUMBER() OVER (PARTITION BY e.vec_id ORDER BY
      |        ROUND(list_dot_product(e.v, cent.cv) /
      |          (sqrt(list_dot_product(e.v, e.v)) * sqrt(list_dot_product(cent.cv, cent.cv))), 4) DESC,
      |        cent.cid ASC) AS rn
      |    FROM e CROSS JOIN cent) t WHERE rn = 1),
      |probes AS (
      |  SELECT vec_id AS query_id, cid FROM (
      |    SELECT e.vec_id, cent.cid,
      |      ROW_NUMBER() OVER (PARTITION BY e.vec_id ORDER BY
      |        ROUND(list_dot_product(e.v, cent.cv) /
      |          (sqrt(list_dot_product(e.v, e.v)) * sqrt(list_dot_product(cent.cv, cent.cv))), 4) DESC,
      |        cent.cid ASC) AS rn
      |    FROM e CROSS JOIN cent WHERE e.vec_id < 10) t WHERE rn <= 4),
      |scored AS (
      |  SELECT p.query_id, a.vec_id AS neighbor_id,
      |    ROUND(list_dot_product(q.v, c.v) /
      |      (sqrt(list_dot_product(q.v, q.v)) * sqrt(list_dot_product(c.v, c.v))), 4) AS sim
      |  FROM probes p
      |  JOIN asgn a ON a.cid = p.cid
      |  JOIN e q ON q.vec_id = p.query_id
      |  JOIN e c ON c.vec_id = a.vec_id
      |  WHERE a.vec_id <> p.query_id),
      |ranked AS (
      |  SELECT query_id, neighbor_id, sim,
      |    ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id ASC) AS rank
      |  FROM scored)
      |SELECT query_id, neighbor_id, rank, sim FROM ranked WHERE rank <= 3""".stripMargin

  /** Language ID vs the labeled lang column: confusion counts. */
  def q36LangId(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .withColumn("lang_pred", TextAnalysis.langId(col("text"), Markers))
      .groupBy(col("lang"), col("lang_pred"))
      .agg(count(lit(1)).as("n"))

  val q36Sql: String = {
    def hits(lang: String): String = {
      val set = Markers.toMap.apply(lang).map(m => s"'$m'").mkString(", ")
      s"len(list_filter(string_split(text, ' '), w -> w IN ($set)))"
    }
    s"""WITH scored AS (
       |  SELECT lang, ${hits("en")} AS h_en, ${hits("es")} AS h_es, ${hits("zh")} AS h_zh
       |  FROM documents)
       |SELECT lang,
       |  CASE WHEN h_zh >= h_es AND h_zh >= h_en AND h_zh > 0 THEN 'zh'
       |       WHEN h_es >= h_en AND h_es > 0 THEN 'es'
       |       WHEN h_en > 0 THEN 'en'
       |       ELSE 'und' END AS lang_pred,
       |  COUNT(*) AS n
       |FROM scored GROUP BY 1, 2""".stripMargin
  }

  /** Quality scoring: token stats + stopword ratio per document. */
  def q37Quality(spark: SparkSession, dir: String): DataFrame = {
    val q = TextAnalysis.qualityStruct(col("text"), Stopwords)
    Tables.documents(spark, dir)
      .select(col("doc_id"), q.getField("n_tokens").cast(LongType).as("n_tokens"),
        q.getField("mean_token_len").as("mean_token_len"),
        q.getField("stopword_ratio").as("stopword_ratio"))
      .filter(col("n_tokens") >= 5)
  }

  val q37Sql: String = {
    val sw = Stopwords.map(s => s"'$s'").mkString(", ")
    s"""SELECT doc_id,
       |  len(string_split(text, ' ')) AS n_tokens,
       |  CAST(list_sum(list_transform(string_split(text, ' '), t -> len(t))) AS DOUBLE)
       |    / CAST(greatest(len(string_split(text, ' ')), 1) AS DOUBLE) AS mean_token_len,
       |  CAST(len(list_filter(string_split(text, ' '), w -> w IN ($sw))) AS DOUBLE)
       |    / CAST(greatest(len(string_split(text, ' ')), 1) AS DOUBLE) AS stopword_ratio
       |FROM documents
       |WHERE len(string_split(text, ' ')) >= 5""".stripMargin
  }

  /** Token counting: whitespace tokens + BPE-ish subword units. */
  def q38TokenCount(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .groupBy(col("source"))
      .agg(
        sum(TextAnalysis.tokenCount(col("text"))).cast(LongType).as("total_tokens"),
        sum(TextAnalysis.subwordCount(col("text"))).cast(LongType).as("total_subwords"),
        count(lit(1)).as("n_docs"))

  val q38Sql: String =
    """SELECT source,
      |  CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS total_tokens,
      |  CAST(SUM(list_sum(list_transform(string_split(text, ' '),
      |    t -> (len(t) + 3) // 4))) AS BIGINT) AS total_subwords,
      |  COUNT(*) AS n_docs
      |FROM documents GROUP BY source""".stripMargin

  /** Document fingerprint: min-MD5 over char 8-gram shingles. */
  def q39Fingerprint(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("doc_id"), TextAnalysis.fingerprint(col("text"), 8).as("fp"))

  val q39Sql: String =
    """SELECT doc_id,
      |  list_min(list_transform(range(1, greatest(len(text) - 7, 1) + 1),
      |    i -> md5(substr(text, i, 8)))) AS fp
      |FROM documents""".stripMargin

  /**
   * End-to-end corpus cleaning — the realistic LLM-training-data
   * pipeline, composed from the proven operators:
   *   1. quality gate (token count ≥ 10, stopword ratio ≤ 0.5)
   *   2. exact dedup (keep the smallest doc_id per identical text)
   *   3. near-dedup: MinHash-LSH candidates verified at Jaccard ≥ 0.6;
   *      the larger id of each surviving pair is dropped
   *   4. per-language kept-corpus stats.
   * Every stage is a distributed plan; only LSH buckets shuffle.
   */
  def q43CorpusClean(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val q = TextAnalysis.qualityStruct(col("text"), Stopwords)
    val quality = docs
      .withColumn("n_tokens", q.getField("n_tokens"))
      .withColumn("sw_ratio", q.getField("stopword_ratio"))
      .filter(col("n_tokens") >= 10 && col("sw_ratio") <= 0.5)

    val exactKept = quality
      .withColumn("__h", sha2(col("text"), 256))
      .withColumn("__rk", min(col("doc_id"))
        .over(org.apache.spark.sql.expressions.Window.partitionBy(col("__h"))))
      .filter(col("doc_id") === col("__rk"))
      .drop("__h", "__rk")

    val nearPairs = Dedup.minhashNearDups(exactKept, "doc_id", "text",
      threshold = 0.6, numHashes = 9, bands = 3, shingle = 3)
    val dropIds = nearPairs.select(col("id_b").as("doc_id")).distinct()

    exactKept.join(dropIds, Seq("doc_id"), "left_anti")
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_kept"),
        sum(col("n_tokens").cast(LongType)).cast(LongType).as("total_tokens"))
  }

  val q43Sql: String =
    s"""WITH quality AS (
      |  SELECT doc_id, lang, text,
      |    len(string_split(text, ' ')) AS n_tokens
      |  FROM documents
      |  WHERE len(string_split(text, ' ')) >= 10
      |    AND CAST(len(list_filter(string_split(text, ' '),
      |          w -> w IN ('the', 'a', 'and', 'of', 'to'))) AS DOUBLE)
      |        / CAST(greatest(len(string_split(text, ' ')), 1) AS DOUBLE) <= 0.5),
      |exact AS (
      |  SELECT * FROM (
      |    SELECT q.*, MIN(doc_id) OVER (PARTITION BY sha256(text)) AS rk
      |    FROM quality q) t WHERE doc_id = rk),
      |toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM exact),
      |sh AS (
      |  SELECT doc_id, list_transform(range(1, greatest(len(t) - 2, 0) + 1),
      |    i -> concat_ws(' ', t[i], t[i+1], t[i+2])) AS shingles
      |  FROM toks),
      |hashed AS (
      |  SELECT doc_id, shingles FROM sh WHERE len(shingles) > 0),
      |${MinhashSql.sigCtes("hashed", "doc_id")}
      |banded AS (
      |  SELECT doc_id, shingles, unnest(list_transform(range(0, 3),
      |    b -> md5(concat_ws('|', sig[b*3+1], sig[b*3+2], sig[b*3+3], CAST(b AS VARCHAR))))) AS band_key
      |  FROM sig),
      |cand AS (
      |  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
      |    a.shingles AS sh_a, b.shingles AS sh_b
      |  FROM banded a JOIN banded b
      |    ON a.band_key = b.band_key AND a.doc_id < b.doc_id),
      |drops AS (
      |  SELECT DISTINCT id_b AS doc_id FROM cand
      |  WHERE CAST(len(list_distinct(list_intersect(sh_a, sh_b))) AS DOUBLE)
      |      / CAST(len(list_distinct(sh_a || sh_b)) AS DOUBLE) >= 0.6)
      |SELECT lang, COUNT(*) AS n_kept,
      |  CAST(SUM(n_tokens) AS BIGINT) AS total_tokens
      |FROM exact WHERE doc_id NOT IN (SELECT doc_id FROM drops)
      |GROUP BY lang""".stripMargin

  /** Multimodal plumbing: text → binary payload → batched feature
    * extraction. Header metadata is REAL (ImageHeaders container
    * parse), so text payloads honestly report a null format — the
    * oracle can state that exactly. */
  def q40Multimodal(spark: SparkSession, dir: String): DataFrame = {
    val media = Multimodal.asBinaryColumn(
      Tables.documents(spark, dir), "doc_id", "text", "text/plain")
    Multimodal.extractFeatures(media).toDF()
      .select(col("media_id"), col("n_bytes"), col("checksum"),
        col("format"), col("ok"))
  }

  val q40Sql: String =
    """SELECT doc_id AS media_id,
      |  CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
      |  md5(text) AS checksum,
      |  CAST(NULL AS VARCHAR) AS format,
      |  CAST(1 AS BOOLEAN) AS ok
      |FROM documents""".stripMargin

  /** Frame-sampling arithmetic over binary payloads (chunk/stride). */
  def q41FrameSample(spark: SparkSession, dir: String): DataFrame = {
    val media = Multimodal.asBinaryColumn(
      Tables.documents(spark, dir), "doc_id", "text", "text/plain")
    Multimodal.sampleChunks(media, chunkSize = 64, stride = 4)
  }

  val q41Sql: String =
    """SELECT doc_id AS media_id,
      |  CAST(ceil(CAST(octet_length(encode(text)) AS DOUBLE) / 64) AS BIGINT) AS n_chunks,
      |  CAST((greatest(CAST(ceil(CAST(octet_length(encode(text)) AS DOUBLE) / 64) AS BIGINT) - 1, 0)) // 4 + 1 AS INT) AS n_sampled
      |FROM documents""".stripMargin

  /** Audio-container metadata pipeline: build a REAL PCM WAV container
    * per document ([[graft.operators.AudioHeaders.buildWav]] — payload
    * bytes stand in for samples, channel/rate derive from the id),
    * parse it back through the chunk-walking RIFF header parse, and
    * aggregate per (channels, sample_rate). The oracle re-states the
    * construction arithmetic (block-align padding, byte-rate division)
    * — so the whole build→parse→aggregate loop is correctness-gated. */
  def q148AudioMeta(spark: SparkSession, dir: String): DataFrame = {
    val media = Multimodal.synthWav(
      Tables.documents(spark, dir), "doc_id", "text")
    Multimodal.extractAudioFeatures(media).toDF()
      .groupBy(col("channels").cast(LongType).as("channels"),
        col("sample_rate").cast(LongType).as("sample_rate"))
      .agg(count(lit(1)).as("n_files"),
        sum(col("data_bytes")).as("sum_data_bytes"),
        sum(col("duration_ms")).as("sum_duration_ms"))
  }

  val q148Sql: String =
    """WITH d AS (
      |  SELECT doc_id, octet_length(encode(text)) AS len,
      |    1 + doc_id % 2 AS ch, 8000 + (doc_id % 5) * 2000 AS rate
      |  FROM documents),
      |p AS (
      |  SELECT ch, rate,
      |    len + ((2 * ch) - len % (2 * ch)) % (2 * ch) AS padded
      |  FROM d)
      |SELECT CAST(ch AS BIGINT) AS channels,
      |  CAST(rate AS BIGINT) AS sample_rate,
      |  CAST(COUNT(*) AS BIGINT) AS n_files,
      |  CAST(SUM(padded) AS BIGINT) AS sum_data_bytes,
      |  CAST(SUM(padded * 1000 // (rate * 2 * ch)) AS BIGINT) AS sum_duration_ms
      |FROM p GROUP BY 1, 2""".stripMargin

  // ------------------------------------------------------------------
  // q62: segment-level dedup (C4's line dedup, adapted to the corpus's
  // space-separated text): split each doc into 8-word segments, keep
  // only the globally FIRST occurrence of each distinct segment
  // (min (doc_id, seg_idx), encoded as doc_id*1000+seg_idx), reassemble
  // surviving segments in order. One hash-agg on the segment string —
  // partial (map-side) aggregation collapses repeats before the
  // shuffle, so a viral segment repeated 10^6× moves ~one row per
  // mapper, not 10^6 rows (same skew-immunity argument as the merge
  // dedup). Reassembly is a per-doc sort of ≤13 surviving segments.
  // ------------------------------------------------------------------
  def q62SegmentDedup(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val segs = docs
      .select(col("doc_id"), col("lang"), split(col("text"), " ").as("w"))
      .withColumn("s", explode(sequence(lit(0),
        floor((size(col("w")) - 1) / 8).cast(IntegerType))))
      .select(col("doc_id"), col("lang"), col("s").as("seg_idx"),
        array_join(slice(col("w"), col("s") * 8 + 1, lit(8)), " ").as("seg"))
      .localCheckpoint() // reused: winner agg + kept join + per-doc tally
    val winners = segs.groupBy("seg")
      .agg(min(col("doc_id") * 1000 + col("seg_idx")).as("win_key"))
    val kept = segs.join(winners, Seq("seg"))
      .filter(col("doc_id") * 1000 + col("seg_idx") === col("win_key"))
    val perDocKept = kept.groupBy("doc_id")
      .agg(count(lit(1)).as("n_kept"),
        array_join(transform(
          array_sort(collect_list(struct(col("seg_idx"), col("seg")))),
          s => s.getField("seg")), " ").as("clean"))
    segs.groupBy(col("doc_id"), col("lang"))
      .agg(count(lit(1)).as("n_segs"))
      .join(perDocKept, Seq("doc_id"), "left_outer")
      .select(col("lang"), col("n_segs"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"),
        coalesce(col("clean"), lit("")).as("clean"))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("n_kept") < col("n_segs"), 1L).otherwise(0L)).as("n_changed"),
        sum(length(col("clean")).cast(LongType)).as("sum_clean_chars"),
        countDistinct(col("clean")).as("n_distinct_clean"))
  }

  val q62Sql: String =
    """WITH words AS (
      |  SELECT doc_id, lang, string_split(text, ' ') AS w FROM documents),
      |segs AS (
      |  SELECT doc_id, lang, g.s AS seg_idx,
      |    array_to_string(w[CAST(g.s*8+1 AS INT):CAST(g.s*8+8 AS INT)], ' ') AS seg
      |  FROM words CROSS JOIN generate_series(0, 31) g(s)
      |  WHERE len(w) > g.s*8),
      |winners AS (SELECT seg, MIN(doc_id*1000 + seg_idx) AS win_key
      |  FROM segs GROUP BY seg),
      |kept AS (SELECT s.doc_id, s.seg_idx, s.seg
      |  FROM segs s JOIN winners ww
      |    ON s.seg = ww.seg AND s.doc_id*1000 + s.seg_idx = ww.win_key),
      |perdoc AS (
      |  SELECT d.doc_id, d.lang, d.n_segs,
      |    COALESCE(k.n_kept, 0) AS n_kept, COALESCE(k.clean, '') AS clean
      |  FROM (SELECT doc_id, lang, COUNT(*) AS n_segs FROM segs GROUP BY 1, 2) d
      |  LEFT JOIN (SELECT doc_id, COUNT(*) AS n_kept,
      |      string_agg(seg, ' ' ORDER BY seg_idx) AS clean
      |    FROM kept GROUP BY doc_id) k USING (doc_id))
      |SELECT lang, COUNT(*) AS n_docs,
      |  CAST(SUM(CASE WHEN n_kept < n_segs THEN 1 ELSE 0 END) AS BIGINT) AS n_changed,
      |  CAST(SUM(length(clean)) AS BIGINT) AS sum_clean_chars,
      |  CAST(COUNT(DISTINCT clean) AS BIGINT) AS n_distinct_clean
      |FROM perdoc GROUP BY lang""".stripMargin

  // ------------------------------------------------------------------
  // q66: incremental dedup — a new batch (doc_id % 10 = 0) probes the
  // corpus's prebuilt LSH signature index (everything else) WITHOUT
  // re-hashing the corpus: the production batch-vs-history shape. Same
  // signature/band/Jaccard semantics as q31.
  // ------------------------------------------------------------------
  def q66IncrementalDedup(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val index = Dedup.signatureIndex(
      docs.filter(col("doc_id") % 10 =!= 0), "doc_id", "text")
    Dedup.probeNearDups(
      docs.filter(col("doc_id") % 10 === 0), index,
      "doc_id", "text", threshold = 0.35)
  }

  val q66Sql: String =
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
      |  SELECT DISTINCT n.doc_id AS new_id, c.doc_id AS corpus_id,
      |    n.shingles AS sh_n, c.shingles AS sh_c
      |  FROM banded n JOIN banded c
      |    ON n.band_key = c.band_key
      |   AND n.doc_id % 10 = 0 AND c.doc_id % 10 <> 0)
      |SELECT new_id, corpus_id,
      |  CAST(len(list_distinct(list_intersect(sh_n, sh_c))) AS DOUBLE)
      |    / CAST(len(list_distinct(sh_n || sh_c)) AS DOUBLE) AS jaccard
      |FROM cand
      |WHERE CAST(len(list_distinct(list_intersect(sh_n, sh_c))) AS DOUBLE)
      |    / CAST(len(list_distinct(sh_n || sh_c)) AS DOUBLE) >= 0.35""".stripMargin

  // ------------------------------------------------------------------
  // q122: collapse-then-block near-dup — the shipped answer to the 10×
  // scale study's blow-up: LSH bucket pair generation is quadratic in
  // bucket membership, so raw duplication factor d costs d² per bucket;
  // collapsing exact duplicates FIRST (one content-hash agg) makes
  // near-dup cost a function of DISTINCT contents only. Each surviving
  // class pair reports its multiplicities and the count of underlying
  // document pairs it stands for; within-class pairs are exact dups by
  // construction (q30's output). Same LSH parameters and jaccard rule
  // as q31 — on a duplicate-free corpus the pair set is identical.
  // ------------------------------------------------------------------
  def q122CollapsedNearDups(spark: SparkSession, dir: String): DataFrame = {
    val classes = Dedup.exactCollapse(
      Tables.documents(spark, dir), "doc_id", "text").localCheckpoint()
    Dedup.minhashNearDups(classes, "rep_id", "text",
        threshold = 0.35, numHashes = 9, bands = 3, shingle = 3)
      .join(classes.select(col("rep_id").as("id_a"), col("copies").as("copies_a")), "id_a")
      .join(classes.select(col("rep_id").as("id_b"), col("copies").as("copies_b")), "id_b")
      .withColumn("implied_doc_pairs", col("copies_a") * col("copies_b"))
      .select(col("id_a"), col("id_b"), col("jaccard"),
        col("copies_a"), col("copies_b"), col("implied_doc_pairs"))
  }

  val q122Sql: String =
    s"""WITH cls AS (
      |  SELECT MIN(doc_id) AS doc_id, CAST(COUNT(*) AS BIGINT) AS copies,
      |    MIN(text) AS text
      |  FROM documents GROUP BY md5(text)),
      |toks AS (
      |  SELECT doc_id, string_split(text, ' ') AS t FROM cls),
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
      |  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
      |    a.shingles AS sh_a, b.shingles AS sh_b
      |  FROM banded a JOIN banded b
      |    ON a.band_key = b.band_key AND a.doc_id < b.doc_id),
      |pairs AS (
      |  SELECT id_a, id_b,
      |    CAST(len(list_distinct(list_intersect(sh_a, sh_b))) AS DOUBLE)
      |      / CAST(len(list_distinct(sh_a || sh_b)) AS DOUBLE) AS jaccard
      |  FROM cand
      |  WHERE CAST(len(list_distinct(list_intersect(sh_a, sh_b))) AS DOUBLE)
      |      / CAST(len(list_distinct(sh_a || sh_b)) AS DOUBLE) >= 0.35)
      |SELECT id_a, id_b, jaccard, ca.copies AS copies_a, cb.copies AS copies_b,
      |  ca.copies * cb.copies AS implied_doc_pairs
      |FROM pairs
      |JOIN cls ca ON id_a = ca.doc_id
      |JOIN cls cb ON id_b = cb.doc_id""".stripMargin

  // ------------------------------------------------------------------
  // q112: near-dup dedup with QUALITY-AWARE canonical selection — q61
  // keeps the lowest id per duplicate cluster; production pipelines
  // keep the BEST copy (here: most characters, tie → lowest id).
  // Same machinery (q31's MinHash-LSH edges → min-label connected
  // components); the canonical pick is an argmax encoded as
  // max(struct(n_chars, -id)) — a partial-aggregable ordinary
  // aggregate, no per-cluster window sort, so it scales like any
  // hash-agg. Oracle replays the components as a recursive CTE and the
  // pick as a ROW_NUMBER qualify.
  // ------------------------------------------------------------------
  def q112DedupKeepBest(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val edges = Dedup.minhashNearDups(docs, "doc_id", "text",
        threshold = 0.35, numHashes = 9, bands = 3, shingle = 3)
      .select(col("id_a").as("src"), col("id_b").as("dst"))
    val labels = graft.operators.ConnectedComponents.minLabel(
      docs.select(col("doc_id").as("id")), edges)
    labels.join(docs.select(col("doc_id").as("id"), col("n_chars")), "id")
      .groupBy(col("label"))
      .agg(count(lit(1)).as("cluster_size"),
        max(struct(col("n_chars").cast(LongType).as("nc"),
          (-col("id")).as("negid"))).as("best"))
      .filter(col("cluster_size") >= 2)
      .select(col("label"), col("cluster_size"),
        (-col("best.negid")).as("kept_id"),
        col("best.nc").as("kept_chars"),
        (col("cluster_size") - 1L).as("n_dropped"))
  }

  val q112Sql: String =
    s"""WITH RECURSIVE toks AS (
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
      |  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
      |    a.shingles AS sh_a, b.shingles AS sh_b
      |  FROM banded a JOIN banded b
      |    ON a.band_key = b.band_key AND a.doc_id < b.doc_id),
      |pairs AS (
      |  SELECT id_a, id_b FROM cand
      |  WHERE CAST(len(list_distinct(list_intersect(sh_a, sh_b))) AS DOUBLE)
      |      / CAST(len(list_distinct(sh_a || sh_b)) AS DOUBLE) >= 0.35),
      |eg AS (SELECT id_a AS src, id_b AS dst FROM pairs
      |  UNION ALL SELECT id_b, id_a FROM pairs),
      |reach(a, b) AS (
      |  SELECT doc_id, doc_id FROM documents
      |  UNION
      |  SELECT r.a, g.dst FROM reach r JOIN eg g ON r.b = g.src),
      |labels AS (SELECT a AS id, MIN(b) AS label FROM reach GROUP BY a),
      |sizes AS (SELECT label, CAST(COUNT(*) AS BIGINT) AS cluster_size
      |  FROM labels GROUP BY label),
      |best AS (
      |  SELECT label, doc_id AS kept_id, n_chars AS kept_chars
      |  FROM (
      |    SELECT l.label, d.doc_id, CAST(d.n_chars AS BIGINT) AS n_chars,
      |      ROW_NUMBER() OVER (PARTITION BY l.label
      |        ORDER BY d.n_chars DESC, d.doc_id ASC) AS rn
      |    FROM labels l JOIN documents d ON l.id = d.doc_id)
      |  WHERE rn = 1)
      |SELECT label, cluster_size, kept_id, kept_chars,
      |  cluster_size - 1 AS n_dropped
      |FROM sizes JOIN best USING (label)
      |WHERE cluster_size >= 2""".stripMargin

  // ------------------------------------------------------------------
  // q144: ANN recall audit — the tuning table an IVF deployment is
  // sized from: recall@10 of the IVF path (q42) against the exact
  // brute-force anchor (q35) across an nprobe sweep. The sweep shares
  // ONE corpus pass for routing, scoring, AND the anchor (the q145/
  // q149 compiled-kernel pattern): IvfMultiQuerySimsExpression assigns
  // each row to its nearest centroid and scores it against every query
  // in tight loops, emitting (query_id, crank, sim); each sweep point
  // is a null-masked `when(crank <= nprobe, sim)` heap column (the
  // aggregate skips nulls, so nothing outside the probe set can enter
  // a ranking) — the per-sweep-point work is a column, not a re-scan. All-integer
  // output (hit counts, permille recall): zero float parity surface.
  // Recall must be 1.0 when nprobe = nlist (exhaustive) and
  // non-decreasing in nprobe — both pinned by spec; the DuckDB oracle
  // checks the numbers exactly.
  // ------------------------------------------------------------------
  def q144IvfRecall(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import graft.functions.{RoundParity, TopKAggregate, VectorFunctions}
    val nlist = 16
    val k = 10
    val nprobes = Seq(1, 2, 4, 8, 16)
    val emb = Tables.embeddings(spark, dir)
    // dimension-sized collects: centroid table + query decimation; the
    // per-query centroid RANKING is precomputed with the same rounded
    // math the kernel applies (score desc, cid-index asc)
    val centroidVecs = emb.orderBy(col("vec_id").asc).limit(nlist)
      .select(col("embedding")).as[Seq[Float]].collect()
      .map(_.map(_.toDouble).toArray)
    val centroidNorms = centroidVecs.map(RoundParity.norm)
    val qRows = emb.filter(col("vec_id") < 50)
      .select(col("vec_id"), col("embedding"))
      .as[(Long, Seq[Float])].collect().sortBy(_._1)
    val queryIds = qRows.map(_._1)
    val queryVecs = qRows.map(_._2.map(_.toDouble).toArray)
    val queryNorms = queryVecs.map(RoundParity.norm)
    val crankByCentroid: Array[Array[Int]] = queryVecs.zip(queryNorms).map {
      case (qv, qn) =>
        val sims = centroidVecs.indices.map { ci =>
          var d = 0.0
          var i = 0
          val m = math.min(qv.length, centroidVecs(ci).length)
          while (i < m) { d += qv(i) * centroidVecs(ci)(i); i += 1 }
          val nn = qn * centroidNorms(ci)
          (if (nn > 0) RoundParity.round(d / nn, 4) else 0.0, ci)
        }
        val ranked = sims.sortBy { case (cs, ci) => (-cs, ci) }.map(_._2)
        val byCi = new Array[Int](centroidVecs.length)
        ranked.zipWithIndex.foreach { case (ci, pos) => byCi(ci) = pos + 1 }
        byCi
    }
    // CPU-dense per-row kernel: spread an under-partitioned input
    val cores = spark.sparkContext.defaultParallelism
    val corpus = if (emb.rdd.getNumPartitions * 2 < cores) emb.repartition(cores) else emb
    // nprobe sweep points as null-masked score columns: TopKAggregate
    // skips null scores, so out-of-probe candidates never enter a heap
    val scored = corpus
      .select(col("vec_id").as("neighbor_id"),
        explode(VectorFunctions.ivfMultiQuerySims(col("embedding"),
          queryIds, queryVecs, queryNorms, crankByCentroid,
          centroidVecs, centroidNorms)).as("e"))
      .filter(col("e.query_id") =!= col("neighbor_id"))
      .select(col("e.query_id").as("query_id") +: col("neighbor_id") +:
        col("e.sim").as("s0") +: nprobes.map(np =>
          when(col("e.crank") <= np, col("e.sim")).as(s"s$np")): _*)
    val top = scored
      .groupBy(col("query_id"))
      .agg(
        TopKAggregate.topK(col("s0"), col("neighbor_id"), k).as("t0"),
        nprobes.map(np =>
          TopKAggregate.topK(col(s"s$np"), col("neighbor_id"), k).as(s"t$np")): _*)
      .select(col("query_id"),
        explode(array((nprobes :+ 0).map(np =>
          struct(lit(np.toLong).as("nprobe"), col(s"t$np.id").as("ids"))): _*)).as("e"))
      .select(col("e.nprobe").as("nprobe"), col("query_id"),
        explode(col("e.ids")).as("neighbor_id"))
      .localCheckpoint() // tiny; read by both the anchor and sweep sides
    val brute = top.filter(col("nprobe") === 0L)
      .select(col("query_id"), col("neighbor_id"))
    val hits = top.filter(col("nprobe") > 0L)
      .join(brute, Seq("query_id", "neighbor_id"))
      .groupBy(col("nprobe")).agg(count(lit(1)).as("hits"))
    nprobes.map(_.toLong).toDF("nprobe")
      .join(hits, Seq("nprobe"), "left")
      .select(col("nprobe"),
        coalesce(col("hits"), lit(0L)).as("hits"),
        expr(s"coalesce(hits, cast(0 as bigint)) * 1000 div (${queryIds.length}L * $k)")
          .as("recall_pm"))
  }

  // ------------------------------------------------------------------
  // q145: quantization-vs-recall tuning table — the "how small can the
  // vector store get" companion to q144's nprobe sweep: per-dimension
  // symmetric scalar quantization at 2/4/6/8 bits (qmax = 2^(b-1)-1),
  // recall@10 of quantized-cosine ranking against the float brute-force
  // anchor. Scales come from ONE per-dimension |max| pass (explode +
  // map-side-combined max, 64-row table gathered to a 1-row array).
  //
  // ONE corpus pass for all five rankings (r4 ran 4 quantized passes +
  // a float brute pass = 5 corpus-linear workloads, 4.6× at the 10×
  // stress): the 50-query decimation is precomputed on the DRIVER in
  // every representation (float anchor + 4 quantized widths — the
  // same dimension-sized collect as q42's IVF centroid table) and
  // ships as payload of ONE compiled expression
  // (MultiQuerySimsExpression) that quantizes each corpus row once
  // per width and scores all 250 (query × width) sims in a tight
  // primitive loop — the row's arrays decode once, not per pair (the
  // broadcast-join formulation evaluated 5 fallback kernels against
  // the joined row per pair; measured 5× slower at the 10× stress).
  // The five rankings then share one bounded-heap top-k pass, five
  // heaps per query group (exploding to (bits, query) keys first
  // would put 250 groups through the TypedImperativeAggregate — past
  // ObjectHashAggregate's 128-group sort fallback, which SORTS the
  // full pair set). Width 0 = the float anchor (same fold, same
  // rounding, same tie order as Similarity.bruteForceTopK).
  // All-integer output. At corpus scale the same quantized lists ride
  // q42's IVF partitioned index; this query is the QUALITY audit over
  // the query decimation.
  // ------------------------------------------------------------------
  def q145QuantRecall(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import graft.functions.{RoundParity, TopKAggregate, VectorFunctions}
    val k = 10
    val widths = Array(2, 4, 6, 8)
    val emb = Tables.embeddings(spark, dir)
    // per-dimension absolute max → ONE 64-element scales array,
    // collected (dimension-sized, like a centroid table)
    val scales: Array[Double] = emb
      .select(posexplode(col("embedding")).as(Seq("pos", "x")))
      .groupBy(col("pos")).agg(max(abs(col("x").cast(DoubleType))).as("mx"))
      .orderBy(col("pos"))
      .select(col("mx")).as[Double].collect()
    // query decimation, every representation prepped with the SAME
    // HALF_UP quantization math the executor kernel applies
    val qRows = emb.filter(col("vec_id") < 50)
      .select(col("vec_id"), col("embedding"))
      .as[(Long, Seq[Float])].collect().sortBy(_._1)
    val queryIds = qRows.map(_._1)
    val queryReps = qRows.map { case (_, e) =>
      val v = e.map(_.toDouble).toArray
      v +: widths.map(b => RoundParity.quantize(v, scales, (1L << (b - 1)) - 1))
    }
    val queryNorms = queryReps.map(_.map(RoundParity.norm))
    // the scoring projection is CPU-dense (250 sims/row); a small
    // corpus arrives as 1-2 parquet splits, which would serialize it
    // on one task — spread it when under-partitioned (a no-op at real
    // scale, where the input already has >= cores splits)
    val cores = spark.sparkContext.defaultParallelism
    val corpus = if (emb.rdd.getNumPartitions * 2 < cores) emb.repartition(cores) else emb
    val scoredPairs = corpus
      .select(col("vec_id").as("neighbor_id"),
        explode(VectorFunctions.multiQuerySims(col("embedding"),
          queryIds, queryReps, queryNorms, scales, widths)).as("e"))
      .filter(col("e.query_id") =!= col("neighbor_id"))
      .select(col("e.query_id").as("query_id") +: col("neighbor_id") +:
        (0 +: widths.toSeq).map(b => col(s"e.s$b").as(s"s$b")): _*)
    // ONE aggregation pass, five heaps per query row: exploding to
    // (bits, query) keys first would put 5×50 = 250 groups through the
    // TypedImperativeAggregate — past ObjectHashAggregate's 128-group
    // sort fallback, which SORTS the full pair set (measured 1.5×
    // slower end to end); 50 query groups with five topK buffers each
    // stays on the hash path and reads the scored pairs exactly once
    val top = scoredPairs
      .groupBy(col("query_id"))
      .agg(
        TopKAggregate.topK(col("s0"), col("neighbor_id"), k).as("t0"),
        widths.map(b =>
          TopKAggregate.topK(col(s"s$b"), col("neighbor_id"), k).as(s"t$b")): _*)
      .select(col("query_id"),
        explode(array((widths :+ 0).map(b =>
          struct(lit(b.toLong).as("bits"), col(s"t$b.id").as("ids"))): _*)).as("e"))
      .select(col("e.bits").as("bits"), col("query_id"),
        explode(col("e.ids")).as("neighbor_id"))
      .localCheckpoint() // tiny; read by both the anchor and quant sides
    val brute = top.filter(col("bits") === 0L)
      .select(col("query_id"), col("neighbor_id"))
    val hits = top.filter(col("bits") > 0L)
      .join(brute, Seq("query_id", "neighbor_id"))
      .groupBy(col("bits")).agg(count(lit(1)).as("hits"))
    widths.toSeq.map(_.toLong).toDF("bits")
      .join(hits, Seq("bits"), "left")
      .select(col("bits"),
        coalesce(col("hits"), lit(0L)).as("hits"),
        expr(s"coalesce(hits, cast(0 as bigint)) * 1000 div (${queryIds.length}L * $k)")
          .as("recall_pm"))
  }

  val q145Sql: String =
    """WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
      |  FROM embeddings),
      |scales AS (
      |  SELECT list(mx ORDER BY i) AS s FROM (
      |    SELECT r.range AS i, MAX(ABS(v[r.range])) AS mx
      |    FROM e CROSS JOIN range(1, 65) r GROUP BY r.range)),
      |bs(bits) AS (VALUES (2), (4), (6), (8)),
      |bq AS (SELECT bits, CAST(pow(2, bits - 1) AS BIGINT) - 1 AS qmax FROM bs),
      |qvec AS (
      |  SELECT b.bits, e.vec_id,
      |    list_transform(range(1, len(e.v) + 1),
      |      i -> CASE WHEN s.s[i] > 0
      |        THEN CAST(round(e.v[i] / s.s[i] * b.qmax) AS BIGINT)
      |        ELSE CAST(0 AS BIGINT) END) AS qv
      |  FROM e CROSS JOIN scales s CROSS JOIN bq b),
      |scored AS (
      |  SELECT a.bits, a.vec_id AS query_id, c.vec_id AS neighbor_id,
      |    CASE WHEN list_dot_product(a.qv, a.qv) * list_dot_product(c.qv, c.qv) > 0
      |      THEN ROUND(list_dot_product(a.qv, c.qv) /
      |        (sqrt(list_dot_product(a.qv, a.qv)) * sqrt(list_dot_product(c.qv, c.qv))), 4)
      |      ELSE 0.0 END AS sim
      |  FROM qvec a JOIN qvec c ON a.bits = c.bits
      |  WHERE a.vec_id < 50 AND a.vec_id <> c.vec_id),
      |ranked AS (
      |  SELECT bits, query_id, neighbor_id,
      |    ROW_NUMBER() OVER (PARTITION BY bits, query_id
      |      ORDER BY sim DESC, neighbor_id ASC) AS rnk
      |  FROM scored),
      |quant AS (SELECT bits, query_id, neighbor_id FROM ranked WHERE rnk <= 10),
      |bsims AS (
      |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
      |    ROUND(list_dot_product(q.v, c.v) /
      |      (sqrt(list_dot_product(q.v, q.v)) * sqrt(list_dot_product(c.v, c.v))), 4) AS sim
      |  FROM e q CROSS JOIN e c
      |  WHERE q.vec_id < 50 AND q.vec_id <> c.vec_id),
      |branked AS (
      |  SELECT query_id, neighbor_id,
      |    ROW_NUMBER() OVER (PARTITION BY query_id
      |      ORDER BY sim DESC, neighbor_id ASC) AS rnk
      |  FROM bsims),
      |brute AS (SELECT query_id, neighbor_id FROM branked WHERE rnk <= 10),
      |nq AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM e WHERE vec_id < 50),
      |hits AS (
      |  SELECT bits, CAST(COUNT(*) AS BIGINT) AS hits
      |  FROM quant JOIN brute USING (query_id, neighbor_id) GROUP BY bits)
      |SELECT CAST(bs.bits AS BIGINT) AS bits,
      |  COALESCE(h.hits, 0) AS hits,
      |  COALESCE(h.hits, 0) * 1000 // ((SELECT n FROM nq) * 10) AS recall_pm
      |FROM bs LEFT JOIN hits h USING (bits)""".stripMargin

  // ------------------------------------------------------------------
  // q146: LSH banding tuning table — the dedup-side companion to
  // q144/q145: for a FIXED 8-hash MinHash signature (same seeded-
  // splitmix64 family as q31; an 8-prefix of the seed sequence IS the
  // 8-hash family), sweep the band partition b ∈ {1,2,4,8} (rows r =
  // 8/b) and measure candidate count, recall, and precision against
  // exact-Jaccard ≥ 0.35 ground truth. Each config refines the
  // previous (r halves), so slice equality at r implies slice equality
  // at r/2 and the candidate sets are NESTED — recall is monotone
  // non-decreasing in b by construction, which AnnRecallSpec asserts.
  // Scale shape: exact-dup collapse first (the operator-level guard),
  // ONE signature pass (compiled kernel, checkpointed), band keys for
  // all four configs explode off that one frame and shuffle as a
  // single (bands, band_key) self-join of ids only; ground truth uses
  // the q33 inverted-index plan (pairs sharing no shingle never
  // materialize). All-integer output.
  // ------------------------------------------------------------------
  def q146LshTuning(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val k = 8
    val tau = 0.35
    val bandConfigs = Seq(1, 2, 4, 8)
    val docs = Tables.documents(spark, dir)
    val classes = docs.groupBy(col("text")).agg(min(col("doc_id")).as("id"))
    val withSig = classes.select(col("id"),
        graft.functions.TextHashFunctions.shingleMinhash(col("text"), k, 3).as("sm"))
      .localCheckpoint() // one kernel pass feeds banding, truth, and sizes
      .select(col("id"), array_distinct(col("sm.shingles")).as("shingles"),
        col("sm.sig").as("sig"))
      .filter(size(col("shingles")) > 0)
    // every (config, band) key off the one signature frame: ids only
    // ride the self-join shuffle
    val banded = withSig.select(col("id"),
        explode(array(bandConfigs.flatMap { b =>
          val r = k / b
          (0 until b).map(i => struct(lit(b.toLong).as("bands"),
            Dedup.bandKey(col("sig"), i, r).as("bk")))
        }: _*)).as("e"))
      .select(col("id"), col("e.bands").as("bands"), col("e.bk").as("band_key"))
    val cand = banded.alias("a")
      .join(banded.alias("b"),
        col("a.bands") === col("b.bands") &&
          col("a.band_key") === col("b.band_key") && col("a.id") < col("b.id"))
      .select(col("a.bands").as("bands"),
        col("a.id").as("id_a"), col("b.id").as("id_b"))
      .dropDuplicates("bands", "id_a", "id_b")
    // NOT checkpointed although candCount + the hits join both read it:
    // measured at sf0.1, materializing the 4-config candidate frame
    // costs more than re-running the band explode + dedup (r16 bench
    // A/B: checkpoint version was +0.5 s drift-adjusted)
    // exact ground truth via inverted index (set-semantics Jaccard on
    // distinct shingles: inter / (na + nb - inter)). The posting
    // self-join is quadratic in each shingle's document frequency, so
    // boilerplate shingles are CAPPED at df ≤ 50 (q165's winnowing
    // convention, mirrored in the oracle): a shingle shared by >50 docs
    // is template mass, not near-duplication evidence, and without the
    // cap one hot shingle at corpus scale makes the truth side O(df²).
    val dfCap = 50
    // bucket-grouped pair engine (round 16): sizes ride the posting
    // lists, so the former two broadcast size joins are gone with the
    // per-side df tallies
    val truth = graft.operators.PostingPairs.cappedPairInter(
        withSig.select(col("id"), col("shingles").as("sh"),
          size(col("shingles")).as("n")), dfCap)
      .filter(col("inter").cast(DoubleType) /
        (col("n_a") + col("n_b") - col("inter")) >= tau)
      .select(col("id_a"), col("id_b"))
      .localCheckpoint() // read by the hits join AND the n_truth count
      // (q184's convention; the pair engine otherwise runs twice)
    val candCount = cand.groupBy(col("bands")).agg(count(lit(1)).as("n_cand"))
    val hits = cand.join(truth, Seq("id_a", "id_b"))
      .groupBy(col("bands")).agg(count(lit(1)).as("hits"))
    val bandsDim = bandConfigs.map(_.toLong).toDF("bands")
    bandsDim
      .join(candCount, Seq("bands"), "left")
      .join(hits, Seq("bands"), "left")
      .crossJoin(broadcast(truth.agg(count(lit(1)).as("n_truth"))))
      .select(col("bands"),
        coalesce(col("n_cand"), lit(0L)).as("n_cand"),
        coalesce(col("hits"), lit(0L)).as("hits"),
        col("n_truth"),
        expr("coalesce(hits, cast(0 as bigint)) * 1000 div greatest(n_truth, 1)")
          .as("recall_pm"),
        expr("coalesce(hits, cast(0 as bigint)) * 1000 div greatest(coalesce(n_cand, cast(0 as bigint)), 1)")
          .as("precision_pm"))
  }

  val q146Sql: String =
    s"""WITH cls AS (SELECT MIN(doc_id) AS id, text FROM documents GROUP BY text),
      |toks AS (SELECT id, string_split(text, ' ') AS t FROM cls),
      |sh AS (
      |  SELECT id, list_transform(range(1, greatest(len(t) - 2, 0) + 1),
      |    i -> concat_ws(' ', t[i], t[i+1], t[i+2])) AS shingles
      |  FROM toks),
      |hashed AS (
      |  SELECT id, shingles FROM sh WHERE len(shingles) > 0),
      |${MinhashSql.sigCtes("hashed", "id", 8)}
      |dsets AS (SELECT id, list_distinct(shingles) AS dsh FROM hashed),
      |bs(bands) AS (VALUES (1), (2), (4), (8)),
      |banded AS (
      |  SELECT s.id, b.bands,
      |    unnest(list_transform(range(0, b.bands),
      |      i -> md5(array_to_string(
      |        list_slice(s.sig, CAST(i*(8//b.bands)+1 AS INT), CAST(i*(8//b.bands)+(8//b.bands) AS INT)), '|')
      |        || '|' || CAST(i AS VARCHAR)))) AS band_key
      |  FROM sig s CROSS JOIN bs b),
      |cand AS (
      |  SELECT DISTINCT a.bands, a.id AS id_a, b.id AS id_b
      |  FROM banded a JOIN banded b
      |    ON a.bands = b.bands AND a.band_key = b.band_key AND a.id < b.id),
      |posts_all AS (SELECT id, unnest(dsh) AS s FROM dsets),
      |posts AS (
      |  SELECT id, s FROM posts_all
      |  WHERE s IN (SELECT s FROM posts_all GROUP BY s HAVING COUNT(*) <= 50)),
      |pairs AS (
      |  SELECT x.id AS id_a, y.id AS id_b, COUNT(*) AS inter
      |  FROM posts x JOIN posts y ON x.s = y.s AND x.id < y.id
      |  GROUP BY 1, 2),
      |sizes AS (SELECT id, len(dsh) AS n FROM dsets),
      |truth AS (
      |  SELECT id_a, id_b FROM pairs
      |  JOIN sizes sa ON sa.id = pairs.id_a
      |  JOIN sizes sb ON sb.id = pairs.id_b
      |  WHERE CAST(inter AS DOUBLE) / (sa.n + sb.n - inter) >= 0.35),
      |tc AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_truth FROM truth),
      |cc AS (SELECT bands, CAST(COUNT(*) AS BIGINT) AS n_cand FROM cand GROUP BY bands),
      |h AS (
      |  SELECT bands, CAST(COUNT(*) AS BIGINT) AS hits
      |  FROM cand JOIN truth USING (id_a, id_b) GROUP BY bands)
      |SELECT CAST(bs.bands AS BIGINT) AS bands,
      |  COALESCE(cc.n_cand, 0) AS n_cand,
      |  COALESCE(h.hits, 0) AS hits,
      |  tc.n_truth,
      |  COALESCE(h.hits, 0) * 1000 // greatest(tc.n_truth, 1) AS recall_pm,
      |  COALESCE(h.hits, 0) * 1000 // greatest(COALESCE(cc.n_cand, 0), 1) AS precision_pm
      |FROM bs CROSS JOIN tc
      |LEFT JOIN cc USING (bands) LEFT JOIN h USING (bands)""".stripMargin

  // ------------------------------------------------------------------
  // q149: product-quantization recall sweep — completes the ANN tuning
  // family (q144 IVF routing, q145 scalar quantization, q146 LSH
  // banding): split the 64-dim embedding into m ∈ {2,4,8,16}
  // subspaces, code each subvector against a 16-entry codebook (the
  // first 16 vectors' subvectors — the PQ paper's sampled-codebook
  // baseline, no training loop), reconstruct, and measure recall@10 of
  // reconstructed-cosine ranking vs the float brute anchor. Memory
  // story: a coded vector is m 4-bit codes vs 64 floats — 8–64×
  // smaller; the audit tells you what recall that buys. Parity: d² and
  // sim ROUND(·,4) before every argmin/rank with id tiebreaks; d² uses
  // the identical ((aa − 2ab) + bb) association in both engines.
  //
  // ONE corpus pass for all five rankings (the q145 pattern — r4 ran
  // a 30-slice subvector explode x 16-entry codebook join, a
  // reconstruction re-agg, a 4x-corpus broadcast scoring join, AND a
  // separate float brute pass; 3.6x at the 10x stress): the codebook
  // (first 16 vectors) and the 50-query decimation are dimension-sized
  // driver collects shipped as payload of the compiled
  // PqMultiQuerySimsExpression, which codes, reconstructs, and scores
  // each row in tight primitive loops; the five rankings share one
  // bounded-heap top-k pass, five heaps per query group (the 128-group
  // ObjectHashAggregate fallback lesson).
  // ------------------------------------------------------------------
  def q149PqRecall(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import graft.functions.{RoundParity, TopKAggregate, VectorFunctions}
    val k = 10
    val ms = Array(2, 4, 8, 16)
    val emb = Tables.embeddings(spark, dir)
    // dimension-sized collects (codebook = first 16 vectors, queries)
    val cbVecs = emb.filter(col("vec_id") < 16)
      .select(col("vec_id"), col("embedding"))
      .as[(Long, Seq[Float])].collect().sortBy(_._1)
      .map(_._2.map(_.toDouble).toArray)
    val qRows = emb.filter(col("vec_id") < 50)
      .select(col("vec_id"), col("embedding"))
      .as[(Long, Seq[Float])].collect().sortBy(_._1)
    val queryIds = qRows.map(_._1)
    val queryVecs = qRows.map(_._2.map(_.toDouble).toArray)
    val queryNorms = queryVecs.map(RoundParity.norm)
    // CPU-dense per-row kernel: spread an under-partitioned input
    val cores = spark.sparkContext.defaultParallelism
    val corpus = if (emb.rdd.getNumPartitions * 2 < cores) emb.repartition(cores) else emb
    val top = corpus
      .select(col("vec_id").as("neighbor_id"),
        explode(VectorFunctions.pqMultiQuerySims(col("embedding"),
          queryIds, queryVecs, queryNorms, cbVecs, ms)).as("e"))
      .filter(col("e.query_id") =!= col("neighbor_id"))
      .select(col("e.query_id").as("query_id") +: col("neighbor_id") +:
        (0 +: ms.toSeq).map(b => col(s"e.s$b").as(s"s$b")): _*)
      .groupBy(col("query_id"))
      .agg(
        TopKAggregate.topK(col("s0"), col("neighbor_id"), k).as("t0"),
        ms.map(b =>
          TopKAggregate.topK(col(s"s$b"), col("neighbor_id"), k).as(s"t$b")): _*)
      .select(col("query_id"),
        explode(array((ms.toSeq :+ 0).map(b =>
          struct(lit(b.toLong).as("m"), col(s"t$b.id").as("ids"))): _*)).as("e"))
      .select(col("e.m").as("m"), col("query_id"),
        explode(col("e.ids")).as("neighbor_id"))
      .localCheckpoint() // tiny; read by both the anchor and PQ sides
    val brute = top.filter(col("m") === 0L)
      .select(col("query_id"), col("neighbor_id"))
    val hits = top.filter(col("m") > 0L)
      .join(brute, Seq("query_id", "neighbor_id"))
      .groupBy(col("m")).agg(count(lit(1)).as("hits"))
    ms.toSeq.map(_.toLong).toDF("m")
      .join(hits, Seq("m"), "left")
      .select(col("m"),
        coalesce(col("hits"), lit(0L)).as("hits"),
        expr(s"coalesce(hits, cast(0 as bigint)) * 1000 div (${queryIds.length}L * $k)")
          .as("recall_pm"))
  }

  val q149Sql: String =
    """WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
      |  FROM embeddings),
      |ms(m) AS (VALUES (2), (4), (8), (16)),
      |sub AS (
      |  SELECT m, r.range AS j, 64 // m AS sd
      |  FROM ms CROSS JOIN range(0, 16) r WHERE r.range < m),
      |xs AS (
      |  SELECT s.m, s.j, e.vec_id,
      |    list_slice(e.v, CAST(s.j * s.sd + 1 AS INT), CAST(s.j * s.sd + s.sd AS INT)) AS xs
      |  FROM e CROSS JOIN sub s),
      |cb AS (SELECT m, j, vec_id AS c, xs AS cs FROM xs WHERE vec_id < 16),
      |d AS (
      |  SELECT x.m, x.j, x.vec_id, cb.c,
      |    ROUND(list_dot_product(x.xs, x.xs) - 2 * list_dot_product(x.xs, cb.cs)
      |      + list_dot_product(cb.cs, cb.cs), 4) AS d2
      |  FROM xs x JOIN cb ON cb.m = x.m AND cb.j = x.j),
      |codes AS (
      |  SELECT m, j, vec_id, c FROM (
      |    SELECT m, j, vec_id, c,
      |      ROW_NUMBER() OVER (PARTITION BY m, j, vec_id ORDER BY d2 ASC, c ASC) AS rn
      |    FROM d) WHERE rn = 1),
      |vhat AS (
      |  SELECT codes.m, codes.vec_id, flatten(list(cb.cs ORDER BY codes.j)) AS vh
      |  FROM codes JOIN cb ON cb.m = codes.m AND cb.j = codes.j AND cb.c = codes.c
      |  GROUP BY codes.m, codes.vec_id),
      |q AS (SELECT vec_id AS query_id, v FROM e WHERE vec_id < 50),
      |sc AS (
      |  SELECT vh.m, q.query_id, vh.vec_id AS neighbor_id,
      |    CASE WHEN list_dot_product(vh.vh, vh.vh) > 0
      |      THEN ROUND(list_dot_product(q.v, vh.vh) /
      |        (sqrt(list_dot_product(q.v, q.v)) * sqrt(list_dot_product(vh.vh, vh.vh))), 4)
      |      ELSE 0.0 END AS sim
      |  FROM vhat vh CROSS JOIN q WHERE vh.vec_id <> q.query_id),
      |pq AS (
      |  SELECT m, query_id, neighbor_id FROM (
      |    SELECT m, query_id, neighbor_id,
      |      ROW_NUMBER() OVER (PARTITION BY m, query_id
      |        ORDER BY sim DESC, neighbor_id ASC) AS rn
      |    FROM sc) WHERE rn <= 10),
      |bsims AS (
      |  SELECT a.vec_id AS query_id, c.vec_id AS neighbor_id,
      |    ROUND(list_dot_product(a.v, c.v) /
      |      (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(c.v, c.v))), 4) AS sim
      |  FROM e a CROSS JOIN e c WHERE a.vec_id < 50 AND a.vec_id <> c.vec_id),
      |brute AS (
      |  SELECT query_id, neighbor_id FROM (
      |    SELECT query_id, neighbor_id,
      |      ROW_NUMBER() OVER (PARTITION BY query_id
      |        ORDER BY sim DESC, neighbor_id ASC) AS rn
      |    FROM bsims) WHERE rn <= 10),
      |nq AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM e WHERE vec_id < 50),
      |hits AS (
      |  SELECT m, CAST(COUNT(*) AS BIGINT) AS hits
      |  FROM pq JOIN brute USING (query_id, neighbor_id) GROUP BY m)
      |SELECT CAST(ms.m AS BIGINT) AS m,
      |  COALESCE(h.hits, 0) AS hits,
      |  COALESCE(h.hits, 0) * 1000 // ((SELECT n FROM nq) * 10) AS recall_pm
      |FROM ms LEFT JOIN hits h USING (m)""".stripMargin

  val q144Sql: String =
    """WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
      |  FROM embeddings),
      |cent AS (SELECT vec_id AS cid, v AS cv FROM e ORDER BY vec_id ASC LIMIT 16),
      |asgn AS (
      |  SELECT vec_id, cid FROM (
      |    SELECT e.vec_id, cent.cid,
      |      ROW_NUMBER() OVER (PARTITION BY e.vec_id ORDER BY
      |        ROUND(list_dot_product(e.v, cent.cv) /
      |          (sqrt(list_dot_product(e.v, e.v)) * sqrt(list_dot_product(cent.cv, cent.cv))), 4) DESC,
      |        cent.cid ASC) AS rn
      |    FROM e CROSS JOIN cent) t WHERE rn = 1),
      |crank AS (
      |  SELECT e.vec_id AS query_id, cent.cid,
      |    ROW_NUMBER() OVER (PARTITION BY e.vec_id ORDER BY
      |      ROUND(list_dot_product(e.v, cent.cv) /
      |        (sqrt(list_dot_product(e.v, e.v)) * sqrt(list_dot_product(cent.cv, cent.cv))), 4) DESC,
      |      cent.cid ASC) AS crank
      |  FROM e CROSS JOIN cent WHERE e.vec_id < 50),
      |scored AS (
      |  SELECT cr.query_id, cr.crank, a.vec_id AS neighbor_id,
      |    ROUND(list_dot_product(q.v, c.v) /
      |      (sqrt(list_dot_product(q.v, q.v)) * sqrt(list_dot_product(c.v, c.v))), 4) AS sim
      |  FROM crank cr
      |  JOIN asgn a ON a.cid = cr.cid
      |  JOIN e q ON q.vec_id = cr.query_id
      |  JOIN e c ON c.vec_id = a.vec_id
      |  WHERE a.vec_id <> cr.query_id),
      |np(nprobe) AS (VALUES (1), (2), (4), (8), (16)),
      |iranked AS (
      |  SELECT np.nprobe, s.query_id, s.neighbor_id,
      |    ROW_NUMBER() OVER (PARTITION BY np.nprobe, s.query_id
      |      ORDER BY s.sim DESC, s.neighbor_id ASC) AS rnk
      |  FROM scored s JOIN np ON s.crank <= np.nprobe),
      |ivf AS (SELECT nprobe, query_id, neighbor_id FROM iranked WHERE rnk <= 10),
      |bsims AS (
      |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
      |    ROUND(list_dot_product(q.v, c.v) /
      |      (sqrt(list_dot_product(q.v, q.v)) * sqrt(list_dot_product(c.v, c.v))), 4) AS sim
      |  FROM e q CROSS JOIN e c
      |  WHERE q.vec_id < 50 AND q.vec_id <> c.vec_id),
      |branked AS (
      |  SELECT query_id, neighbor_id,
      |    ROW_NUMBER() OVER (PARTITION BY query_id
      |      ORDER BY sim DESC, neighbor_id ASC) AS rnk
      |  FROM bsims),
      |brute AS (SELECT query_id, neighbor_id FROM branked WHERE rnk <= 10),
      |nq AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM e WHERE vec_id < 50),
      |hits AS (
      |  SELECT nprobe, CAST(COUNT(*) AS BIGINT) AS hits
      |  FROM ivf JOIN brute USING (query_id, neighbor_id) GROUP BY nprobe)
      |SELECT CAST(np.nprobe AS BIGINT) AS nprobe,
      |  COALESCE(h.hits, 0) AS hits,
      |  COALESCE(h.hits, 0) * 1000 // ((SELECT n FROM nq) * 10) AS recall_pm
      |FROM np LEFT JOIN hits h USING (nprobe)""".stripMargin

  // ------------------------------------------------------------------
  // q212: content-defined chunk dedup profile — the Rabin/FastCDC idea
  // at word granularity ([[graft.functions.CdcChunksExpression]]): a
  // polynomial rolling hash over the last 4 word values cuts a
  // boundary wherever h % 32 == 0, so chunk digests survive edits
  // outside the touched chunk (fixed-size blocks lose alignment after
  // ONE insertion — the reason storage and corpus dedup pipelines cut
  // on content, not offsets). Reports per-source chunk counts,
  // distinct digests, and the duplicated-chunk ratio — the byte-level
  // sibling of span dedup (q106) that needs no shingle index. The
  // oracle replays every step: word values from md5 prefixes, the
  // modular rolling hash with inlined power constants, prefix-sum
  // chunk assignment, digesting each chunk's rejoined words.
  //
  // 100 TB: one compiled per-row kernel in the scan (boundaries are
  // LOCAL — no cross-row state), then ONE (source, digest) distinct-
  // expand aggregation. Nothing else touches the corpus.
  // ------------------------------------------------------------------
  def q212CdcChunks(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.TextHashFunctions.cdcChunks
    // CPU-dense per-row kernel: spread an under-partitioned input (one
    // small parquet file = one split = one task) across the cores; at
    // real scale the scan has enough splits and this is a no-op
    val docs = Tables.documents(spark, dir)
    val cores = spark.sparkContext.defaultParallelism
    val spread = if (docs.rdd.getNumPartitions * 2 < cores)
      docs.repartition(cores) else docs
    spread
      .select(col("source"), explode(cdcChunks(col("text"), 4, 32)).as("digest"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_chunks"),
        countDistinct(col("digest")).as("n_distinct"))
      .select(col("source"), col("n_chunks"), col("n_distinct"),
        expr("((n_chunks - n_distinct) * 1000000) div n_chunks")
          .as("dup_micro"))
  }

  val q212Sql: String =
    """WITH words AS (
      |  SELECT doc_id, source, w.i AS idx, w.word,
      |    CAST('0x' || substr(md5(w.word), 1, 6) AS BIGINT) AS v
      |  FROM documents,
      |    LATERAL (SELECT UNNEST(str_split(text, ' ')) AS word,
      |             generate_subscripts(str_split(text, ' '), 1) AS i) w),
      |n AS (SELECT doc_id, MAX(idx) AS n FROM words GROUP BY 1),
      |h AS (
      |  SELECT w0.doc_id, w0.source, w0.idx, w0.word,
      |    CASE WHEN w0.idx >= 4 THEN
      |      ((w0.v * 1) % 1000000007 + (w1.v * 1000003) % 1000000007
      |       + (w2.v * 5993009) % 1000000007
      |       + (w3.v * 26937076) % 1000000007) % 1000000007 % 32
      |    END AS hmod
      |  FROM words w0
      |  LEFT JOIN words w1 ON w1.doc_id = w0.doc_id AND w1.idx = w0.idx - 1
      |  LEFT JOIN words w2 ON w2.doc_id = w0.doc_id AND w2.idx = w0.idx - 2
      |  LEFT JOIN words w3 ON w3.doc_id = w0.doc_id AND w3.idx = w0.idx - 3),
      |cuts AS (
      |  SELECT h.doc_id, h.source, h.idx, h.word,
      |    CASE WHEN h.idx = n.n OR h.hmod = 0 THEN 1 ELSE 0 END AS cut
      |  FROM h JOIN n ON n.doc_id = h.doc_id),
      |asg AS (
      |  SELECT doc_id, source, idx, word,
      |    COALESCE(SUM(cut) OVER (PARTITION BY doc_id ORDER BY idx
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cid
      |  FROM cuts),
      |chunks AS (
      |  SELECT doc_id, source,
      |    md5(string_agg(word, ' ' ORDER BY idx)) AS digest
      |  FROM asg GROUP BY doc_id, source, cid)
      |SELECT source, CAST(COUNT(*) AS BIGINT) AS n_chunks,
      |  CAST(COUNT(DISTINCT digest) AS BIGINT) AS n_distinct,
      |  CAST(((COUNT(*) - COUNT(DISTINCT digest)) * 1000000)
      |    // COUNT(*) AS BIGINT) AS dup_micro
      |FROM chunks GROUP BY 1""".stripMargin

  // ------------------------------------------------------------------
  // q225: benchmark-proximity screen in EMBEDDING space — the
  // decontamination companion to the token-level screens (q47 n-gram
  // semi-join, q73 bloom): a paraphrased or lightly-edited benchmark
  // copy shares no 3-gram with the original but sits near cosine 1 in
  // embedding space, which is exactly what token screens miss. For
  // every corpus vector, the max cosine to ANY benchmark vector
  // (vec_id % 89 = 0 — q73's bench gate), banded into audit buckets
  // per label: dup_risk ≥ .95, near ≥ .90, related ≥ .80, clean.
  // Similarities round to 4 dp then quantize to an integer permyriad
  // BEFORE banding/summing, so band edges and totals are bit-portable
  // across engines (the q35/q140 conventions).
  //
  // Scale shape: the bench side IS the benchmark suite — small by
  // construction — broadcast once; each corpus row scores ≤ |bench|
  // candidates map-side through the compiled DotProductExpression
  // kernel (an intentional tiny-side broadcast BNLJ, q35's contract),
  // the per-vector max is a partial agg, and the output is
  // labels × 4 bands.
  //
  // Path selection (the q147 pattern): the exact broadcast screen is
  // linear in |corpus|×|bench| — right while the bench side is a fixed
  // benchmark suite, a hazard when a user screens against a LARGE
  // bench set. A cheap bench-count probe switches to the IVF
  // composition (q225BenchProximityAnn) past 50 000 bench vectors —
  // past that the broadcast blob is tens of MB and the per-row
  // candidate count stops being "tiny side".
  // ------------------------------------------------------------------
  private val AnnBenchVectors = 50000L

  def q225BenchProximity(spark: SparkSession, dir: String): DataFrame = {
    val benchVectors = Tables.embeddings(spark, dir).filter(col("vec_id") % 89 === 0).count()
    if (benchVectors > AnnBenchVectors) q225BenchProximityAnn(spark, dir)
    else q225BenchProximityExact(spark, dir)
  }

  private[graft] def q225BenchProximityExact(
      spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
    val bench = emb.filter(col("vec_id") % 89 === 0)
      .select(col("embedding").as("bv"))
    val best = emb.filter(col("vec_id") % 89 =!= 0)
      .crossJoin(broadcast(bench))
      .select(col("vec_id"), col("label"),
        round(Similarity.cosine(col("embedding"), col("bv")), 4).as("sim"))
      .groupBy(col("vec_id"), col("label"))
      .agg(round(max(col("sim")) * 10000).cast(LongType).as("pm"))
    q225Bands(best)
  }

  private val AnnProbes = 4

  /**
   * Large-bench path of q225: the per-vector best-bench cosine comes
   * from `Similarity.ivfTopK` (q42's centroid-routed inverted lists —
   * each corpus vector scores only the `nprobe` nearest bench lists,
   * never the whole suite), k=1, then the same permyriad banding.
   * Approximation is ONE-SIDED: a missed list can only lower the best
   * sim, so vectors drift toward cleaner bands, never into dup_risk —
   * AnnRecallSpec bounds the drift against the exact plan. Corpus
   * vectors whose probed lists held no candidate band as clean (pm 0).
   */
  private[graft] def q225BenchProximityAnn(
      spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
    val bench = emb.filter(col("vec_id") % 89 === 0)
      .select(col("vec_id").as("bid"), col("embedding").as("bvec"))
    // nlist scales as √|bench| (EmbedAuditQueries.annNlist — the same
    // balance point as q251/q252's self-kNN: at a FIXED nlist the
    // corpus×bench candidate work N·(B/nlist)·nprobe stays
    // quadratic-in-scale since B = N/89 grows with the corpus). The
    // count is a column-pruned metadata-cheap probe.
    val nlist = EmbedAuditQueries.annNlist(bench.count())
    val corp = emb.filter(col("vec_id") % 89 =!= 0)
    val best = Similarity.ivfTopK(
        bench, corp.select(col("vec_id"), col("embedding")),
        "bid", "bvec", "vec_id", "embedding",
        k = 1, nlist = nlist, nprobe = AnnProbes)
      .select(col("query_id").as("vec_id"),
        round(col("sim") * 10000).cast(LongType).as("pm"))
    q225Bands(corp.select(col("vec_id"), col("label"))
      .join(best, Seq("vec_id"), "left")
      .withColumn("pm", coalesce(col("pm"), lit(0L))))
  }

  /** Shared banding/rollup tail: (vec_id, label, pm) → label × band. */
  private def q225Bands(best: DataFrame): DataFrame =
    best
      .withColumn("band",
        when(col("pm") >= 9500, "dup_risk")
          .when(col("pm") >= 9000, "near")
          .when(col("pm") >= 8000, "related")
          .otherwise("clean"))
      .groupBy(col("label"), col("band"))
      .agg(count(lit(1)).as("n_vecs"),
        sum(col("pm")).as("sum_best_pm"))
      .orderBy(col("label"), col("band"))

  val q225Sql: String =
    """WITH b AS (
      |  SELECT list_transform(embedding, x -> CAST(x AS DOUBLE)) AS bv
      |  FROM embeddings WHERE vec_id % 89 = 0),
      |c AS (
      |  SELECT vec_id, label,
      |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS cv
      |  FROM embeddings WHERE vec_id % 89 <> 0),
      |scored AS (
      |  SELECT c.vec_id, c.label,
      |    ROUND(CASE
      |      WHEN sqrt(list_dot_product(cv, cv))
      |           * sqrt(list_dot_product(bv, bv)) > 0
      |      THEN list_dot_product(cv, bv)
      |           / (sqrt(list_dot_product(cv, cv))
      |              * sqrt(list_dot_product(bv, bv)))
      |      ELSE 0 END, 4) AS sim
      |  FROM c CROSS JOIN b),
      |best AS (
      |  SELECT vec_id, label,
      |    CAST(ROUND(MAX(sim) * 10000) AS BIGINT) AS pm
      |  FROM scored GROUP BY vec_id, label),
      |banded AS (
      |  SELECT label,
      |    CASE WHEN pm >= 9500 THEN 'dup_risk'
      |         WHEN pm >= 9000 THEN 'near'
      |         WHEN pm >= 8000 THEN 'related'
      |         ELSE 'clean' END AS band,
      |    pm
      |  FROM best)
      |SELECT label, band,
      |  CAST(COUNT(*) AS BIGINT) AS n_vecs,
      |  CAST(SUM(pm) AS BIGINT) AS sum_best_pm
      |FROM banded
      |GROUP BY label, band
      |ORDER BY label, band""".stripMargin

  // ------------------------------------------------------------------
  // q232: containment screen — the ASYMMETRIC dedup measure symmetric
  // Jaccard misses: a short quote lifted from a long doc has
  // C(quote→doc) = |A∩B|/|A| ≈ 1 while J stays tiny (the union is
  // dominated by the long doc) — exactly the partial copies every
  // τ-Jaccard dedup pass leaves behind. The probe set is synthesized
  // deterministically (the corpus has no excerpt column — q151's
  // convention: the SCREEN is the operator under test): an
  // ABSOLUTE-SIZE doc_id decimation (modulus derived from one count()
  // probe to target ≈ 100 probes — the oracle derives the same
  // modulus) takes each probe doc's 40-token prefix
  // as the "quote", and the screen must trace each one back to a
  // containing corpus doc. The round-13 fixed `% 20` grew the probe
  // side linearly with the corpus; the derived modulus keeps the
  // probe×corpus join's probe side CONSTANT at any scale. 5-gram
  // shingles (longer than q33's 3-grams: quotes must match verbatim
  // runs, not shared vocabulary); flagged = containment ≥ 0.8 with
  // Jaccard < 0.5.
  //
  // Scale shape: exact-class collapse on the corpus side, df ≤ 50
  // boilerplate cap on the corpus postings (q146/q165), ONE
  // directional posting join (probe × corpus — never a self-join), a
  // bounded per-probe argmax (candidates ≤ df-cap × probe shingles).
  // Integer permille output.
  // ------------------------------------------------------------------
  private val ContainmentProbes = 100L

  def q232Containment(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val docs = Tables.documents(spark, dir)
    val classes = docs.groupBy(col("text")).agg(min(col("doc_id")).as("id"))
    val corpus = classes.select(col("id"),
        array_distinct(graft.functions.TextHashFunctions
          .shingleMinhash(col("text"), 1, 5).getField("shingles")).as("sh"))
      .filter(size(col("sh")) > 0)
      .select(col("id"), col("sh"), size(col("sh")).cast(LongType).as("n"))
      .localCheckpoint()
    val cPostsAll = corpus.select(col("id"), col("n"), explode(col("sh")).as("s"))
    val cPosts = cPostsAll.join(
      cPostsAll.groupBy(col("s")).agg(count(lit(1)).as("df"))
        .filter(col("df") <= 50).select(col("s")),
      Seq("s"), "left_semi")
    val probeMod = graft.queries.StatsQueries.sampleModulus(
      docs.count(), ContainmentProbes)
    val probes = docs.filter(col("doc_id") % probeMod === 0)
      .select(col("doc_id").as("eid"),
        concat_ws(" ", slice(array_remove(split(col("text"), " "), ""),
          1, 40)).as("prefix"))
      .select(col("eid"),
        array_distinct(graft.functions.TextHashFunctions
          .shingleMinhash(col("prefix"), 1, 5).getField("shingles")).as("sh"))
      .filter(size(col("sh")) > 0)
      .select(col("eid"), size(col("sh")).cast(LongType).as("n_e"),
        explode(col("sh")).as("s"))
    val scored = probes
      .join(cPosts.select(col("id").as("cid"), col("n").as("n_c"), col("s")), "s")
      .groupBy(col("eid"), col("cid"), col("n_e"), col("n_c"))
      .agg(count(lit(1)).as("inter"))
      .withColumn("cont_pm", expr("inter * 1000 div n_e"))
      .withColumn("jac_pm", expr("inter * 1000 div (n_e + n_c - inter)"))
    // best container per probe (bounded candidate set per eid)
    val w = Window.partitionBy(col("eid"))
      .orderBy(col("cont_pm").desc, col("jac_pm").desc, col("cid").asc)
    scored
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1 && col("cont_pm") >= 800 && col("jac_pm") < 500)
      .select(col("eid").as("excerpt_id"), col("cid").as("container_id"),
        col("n_e").as("n_excerpt"), col("n_c").as("n_container"),
        col("inter"), col("cont_pm"), col("jac_pm"))
      .orderBy(col("excerpt_id"))
  }

  val q232Sql: String =
    """WITH cls AS (SELECT MIN(doc_id) AS id, text FROM documents GROUP BY text),
      |ctoks AS (SELECT id, string_split(text, ' ') AS t FROM cls),
      |csh AS (
      |  SELECT id, list_distinct(list_transform(
      |    range(1, greatest(len(t) - 4, 0) + 1),
      |    i -> concat_ws(' ', t[i], t[i+1], t[i+2], t[i+3], t[i+4]))) AS dsh
      |  FROM ctoks),
      |corpus AS (
      |  SELECT id, dsh, CAST(len(dsh) AS BIGINT) AS n
      |  FROM csh WHERE len(dsh) > 0),
      |cposts_all AS (SELECT id, n, unnest(dsh) AS s FROM corpus),
      |cposts AS (
      |  SELECT id, n, s FROM cposts_all
      |  WHERE s IN (SELECT s FROM cposts_all GROUP BY s HAVING COUNT(*) <= 50)),
      |pm_ AS (SELECT greatest(1, COUNT(*) // 100) AS m FROM documents),
      |ptoks AS (
      |  SELECT doc_id AS eid,
      |    list_slice(list_filter(string_split(text, ' '), w -> w <> ''), 1, 40) AS t
      |  FROM documents WHERE doc_id % (SELECT m FROM pm_) = 0),
      |psh AS (
      |  SELECT eid, list_distinct(list_transform(
      |    range(1, greatest(len(t) - 4, 0) + 1),
      |    i -> concat_ws(' ', t[i], t[i+1], t[i+2], t[i+3], t[i+4]))) AS dsh
      |  FROM ptoks),
      |pposts AS (
      |  SELECT eid, CAST(len(dsh) AS BIGINT) AS n_e, unnest(dsh) AS s
      |  FROM psh WHERE len(dsh) > 0),
      |scored AS (
      |  SELECT p.eid, c.id AS cid, p.n_e, c.n AS n_c,
      |    CAST(COUNT(*) AS BIGINT) AS inter
      |  FROM pposts p JOIN cposts c ON p.s = c.s
      |  GROUP BY 1, 2, 3, 4),
      |pm AS (
      |  SELECT eid, cid, n_e, n_c, inter,
      |    inter * 1000 // n_e AS cont_pm,
      |    inter * 1000 // (n_e + n_c - inter) AS jac_pm
      |  FROM scored),
      |best AS (
      |  SELECT eid, cid, n_e, n_c, inter, cont_pm, jac_pm,
      |    ROW_NUMBER() OVER (PARTITION BY eid
      |      ORDER BY cont_pm DESC, jac_pm DESC, cid ASC) AS rn
      |  FROM pm)
      |SELECT eid AS excerpt_id, cid AS container_id,
      |  n_e AS n_excerpt, n_c AS n_container, inter, cont_pm, jac_pm
      |FROM best WHERE rn = 1 AND cont_pm >= 800 AND jac_pm < 500
      |ORDER BY excerpt_id""".stripMargin

  // ------------------------------------------------------------------
  // q233: dedup-threshold impact curve — "what would Jaccard-dedup at
  // τ cost me?" for τ ∈ {50,60,70,80,90}%: the number of documents
  // and token mass removed BEFORE running the pass, so the threshold
  // is chosen from evidence, not convention. Removal semantics are
  // q112's keep-lowest-id rule: a doc is redundant at τ iff it has
  // Jaccard ≥ τ with ANY lower-id doc — one pair table serves every
  // threshold (the sweep explodes thresholds over the pair frame, not
  // over the corpus).
  //
  // Scale shape: exact-class collapse, df ≤ 50 capped postings, ONE
  // posting-join pair aggregation, then the curve is arithmetic over
  // pair rows; token totals are ONE map-side corpus tally. At corpus
  // scale the pair table composes over q31's banded candidates instead
  // — τ ≥ 0.5 makes LSH banding recall-safe — the exact posting join
  // here is the calibration anchor (q146's contract).
  // ------------------------------------------------------------------
  def q233DedupThresholdCurve(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val docs = Tables.documents(spark, dir)
    val classes = docs.groupBy(col("text")).agg(min(col("doc_id")).as("id"))
    val withSh = classes.select(col("id"),
        array_distinct(graft.functions.TextHashFunctions
          .shingleMinhash(col("text"), 1, 3).getField("shingles")).as("sh"),
        size(array_remove(split(col("text"), " "), ""))
          .cast(LongType).as("toks"))
      .filter(size(col("sh")) > 0)
      .select(col("id"), col("toks"), col("sh"),
        size(col("sh")).cast(LongType).as("n"))
      .localCheckpoint()
    // shared bucket-grouped pair engine (round 16): one groupBy(s)
    // posting-list pass replaces the per-side df-tally + self-join
    val pairs = graft.operators.PostingPairs.cappedPairInter(withSh, 50)
      .withColumn("jac_pm", expr("inter * 1000 div (n_a + n_b - inter)"))
    // redundant set per τ: distinct HIGHER ids with a ≥τ partner below
    val taus = Seq(500L, 600L, 700L, 800L, 900L)
    val removed = pairs
      .select(col("id_b").as("id"), col("jac_pm"),
        explode(array(taus.map(lit): _*)).as("tau"))
      .filter(col("jac_pm") >= col("tau"))
      .select(col("tau"), col("id")).distinct()
      .join(withSh.select(col("id"), col("toks")), "id")
      .groupBy(col("tau"))
      .agg(count(lit(1)).as("n_docs_removed"),
        sum(col("toks")).as("tokens_removed"))
    val totals = withSh.agg(
      count(lit(1)).as("n_classes"), sum(col("toks")).as("total_tokens"))
    taus.toDF("tau")
      .join(removed, Seq("tau"), "left")
      .crossJoin(broadcast(totals))
      .select(col("tau"),
        coalesce(col("n_docs_removed"), lit(0L)).as("n_docs_removed"),
        coalesce(col("tokens_removed"), lit(0L)).as("tokens_removed"),
        col("n_classes"), col("total_tokens"),
        expr("coalesce(tokens_removed, cast(0 as bigint)) * 1000000 div total_tokens")
          .as("removed_micro"))
      .orderBy(col("tau"))
  }

  val q233Sql: String =
    """WITH cls AS (
      |  SELECT MIN(doc_id) AS id, text FROM documents GROUP BY text),
      |toks AS (SELECT id, string_split(text, ' ') AS t FROM cls),
      |sh AS (
      |  SELECT id,
      |    list_distinct(list_transform(
      |      range(1, greatest(len(t) - 2, 0) + 1),
      |      i -> concat_ws(' ', t[i], t[i+1], t[i+2]))) AS dsh,
      |    CAST(len(list_filter(t, w -> w <> '')) AS BIGINT) AS toks
      |  FROM toks),
      |sized AS (
      |  SELECT id, toks, dsh, CAST(len(dsh) AS BIGINT) AS n
      |  FROM sh WHERE len(dsh) > 0),
      |posts_all AS (SELECT id, n, unnest(dsh) AS s FROM sized),
      |posts AS (
      |  SELECT id, n, s FROM posts_all
      |  WHERE s IN (SELECT s FROM posts_all GROUP BY s HAVING COUNT(*) <= 50)),
      |pairs AS (
      |  SELECT a.id AS id_a, b.id AS id_b, a.n AS n_a, b.n AS n_b,
      |    CAST(COUNT(*) AS BIGINT) AS inter
      |  FROM posts a JOIN posts b ON a.s = b.s AND a.id < b.id
      |  GROUP BY 1, 2, 3, 4),
      |jac AS (
      |  SELECT id_b AS id, inter * 1000 // (n_a + n_b - inter) AS jac_pm
      |  FROM pairs),
      |taus(tau) AS (VALUES (CAST(500 AS BIGINT)), (CAST(600 AS BIGINT)),
      |  (CAST(700 AS BIGINT)), (CAST(800 AS BIGINT)), (CAST(900 AS BIGINT))),
      |removed AS (
      |  SELECT t.tau, j.id FROM taus t JOIN jac j ON j.jac_pm >= t.tau
      |  GROUP BY t.tau, j.id),
      |rm AS (
      |  SELECT r.tau, CAST(COUNT(*) AS BIGINT) AS n_docs_removed,
      |    CAST(SUM(s.toks) AS BIGINT) AS tokens_removed
      |  FROM removed r JOIN sized s ON s.id = r.id GROUP BY r.tau),
      |tot AS (
      |  SELECT CAST(COUNT(*) AS BIGINT) AS n_classes,
      |    CAST(SUM(toks) AS BIGINT) AS total_tokens
      |  FROM sized)
      |SELECT t.tau,
      |  COALESCE(rm.n_docs_removed, 0) AS n_docs_removed,
      |  COALESCE(rm.tokens_removed, 0) AS tokens_removed,
      |  tot.n_classes, tot.total_tokens,
      |  COALESCE(rm.tokens_removed, 0) * 1000000 // tot.total_tokens
      |    AS removed_micro
      |FROM taus t LEFT JOIN rm ON rm.tau = t.tau CROSS JOIN tot
      |ORDER BY t.tau""".stripMargin

  // ------------------------------------------------------------------
  // q247: code-switching detection per source — documents whose
  // language CHANGES mid-text. Whole-document language ID (q36)
  // averages the signal away: a half-English half-Spanish page gets
  // one confident label and slips past per-lang curation filters, yet
  // mixed-language documents are exactly what hurts tokenizer fertility
  // (q143) and per-lang quality rules (q226). Each doc is cut into
  // fixed 20-token windows, each window language-ID'd with q36's
  // marker-argmax rule (same tie-break: LAST language code wins, 'und'
  // when no hits), 'und' windows dropped, and a doc is MIXED when ≥2
  // distinct languages remain; switches = adjacent unequal pairs.
  //
  // All arithmetic is integer (window counts, switch tallies, micro
  // ratios by integer division) — no float anywhere.
  //
  // Scale shape: the windowing, per-window argmax, and switch count
  // are all per-row array ops (zero shuffle); ONE map-side-combined
  // source tally, final order range. Window strings are built per doc
  // — never exploded into (doc, window) rows.
  // ------------------------------------------------------------------
  def q247CodeSwitching(spark: SparkSession, dir: String): DataFrame = {
    // compiled one-pass kernel (CodeSwitchExpression): the declarative
    // dual — window strings via sequence/slice/concat_ws, then the
    // whole langId expression tree interpreted per window inside
    // nested HOFs — ran 6× at the 10× replica; the kernel walks the
    // tokens once with hash-set marker membership. KernelParitySpec
    // pins window/argmax/switch parity on adversarial texts.
    val p = graft.functions.TextHashFunctions
      .codeSwitchProfile(col("text"), 20, Markers)
    Tables.documents(spark, dir)
      .select(col("source"), p.as("p"))
      .select(col("source"), col("p.n_windows").as("n_windows"),
        col("p.n_lang_windows").as("n_lang_windows"),
        col("p.mixed").as("mixed"), col("p.switches").as("sw"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("mixed"), 1L).otherwise(0L)).as("n_mixed_docs"),
        sum(col("n_windows")).as("total_windows"),
        sum(col("sw")).as("total_switches"))
      .withColumn("mixed_ratio_micro",
        expr("CAST((n_mixed_docs * 1000000) div n_docs AS BIGINT)"))
      .withColumn("switch_rate_micro",
        expr("CAST((total_switches * 1000000) div greatest(total_windows, 1) " +
          "AS BIGINT)"))
      .orderBy(col("source"))
  }

  val q247Sql: String = {
    def hits(lang: String, v: String): String = {
      val set = Markers.toMap.apply(lang).map(m => s"'$m'").mkString(", ")
      s"len(list_filter(string_split($v, ' '), x -> x IN ($set)))"
    }
    s"""WITH base AS (
       |  SELECT source, string_split(text, ' ') AS t FROM documents),
       |win AS (
       |  SELECT source,
       |    list_transform(range(0, (len(t) + 19) // 20),
       |      i -> array_to_string(list_slice(t, i * 20 + 1, i * 20 + 20), ' '))
       |      AS ws
       |  FROM base),
       |langs AS (
       |  SELECT source, len(ws) AS n_windows,
       |    list_filter(list_transform(ws, w ->
       |      CASE WHEN ${hits("zh", "w")} >= ${hits("es", "w")}
       |                AND ${hits("zh", "w")} >= ${hits("en", "w")}
       |                AND ${hits("zh", "w")} > 0 THEN 'zh'
       |           WHEN ${hits("es", "w")} >= ${hits("en", "w")}
       |                AND ${hits("es", "w")} > 0 THEN 'es'
       |           WHEN ${hits("en", "w")} > 0 THEN 'en'
       |           ELSE 'und' END), l -> l <> 'und') AS ls
       |  FROM win),
       |per_doc AS (
       |  SELECT source, n_windows, len(ls) AS n_lang_windows,
       |    len(list_distinct(ls)) >= 2 AS mixed,
       |    CASE WHEN len(ls) >= 2 THEN
       |      list_sum(list_transform(range(1, len(ls)),
       |        i -> CASE WHEN ls[i] <> ls[i + 1] THEN 1 ELSE 0 END))
       |      ELSE 0 END AS sw
       |  FROM langs)
       |SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
       |  CAST(SUM(CASE WHEN mixed THEN 1 ELSE 0 END) AS BIGINT) AS n_mixed_docs,
       |  CAST(SUM(n_windows) AS BIGINT) AS total_windows,
       |  CAST(SUM(sw) AS BIGINT) AS total_switches,
       |  CAST((SUM(CASE WHEN mixed THEN 1 ELSE 0 END) * 1000000)
       |    // COUNT(*) AS BIGINT) AS mixed_ratio_micro,
       |  CAST((SUM(sw) * 1000000) // greatest(SUM(n_windows), 1) AS BIGINT)
       |    AS switch_rate_micro
       |FROM per_doc GROUP BY source
       |ORDER BY source""".stripMargin
  }
}
