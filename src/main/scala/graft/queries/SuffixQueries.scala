package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.operators.SuffixArray
import graft.sources.Tables

/**
 * Suffix-array queries — the unbounded exact-repeat surface (Lee et
 * al. 2022 exact-substring dedup). Both run on the deterministic
 * doc_id % 10 = 0 audit shard so the DuckDB oracle (which sorts the
 * actual suffix token lists — fine at test SF, impossible at corpus
 * scale) stays tractable; the Spark side runs the same prefix-doubling
 * plan it would run corpus-wide, where nothing ever materializes a
 * suffix: every round compares fixed-size integer pairs.
 */
object SuffixQueries {

  private def shard(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir).filter(col("doc_id") % 10 === 0)

  // Build-once-query-many: the suffix array is an INDEX — q163 (ranks)
  // and q164 (longest repeats) interrogate the same structure. The
  // log-rounds construction runs once per (corpus, stamp) and PERSISTS
  // to cache tables (`graft.sa.db`, default graft_sa_index): a later
  // session — the actual 100 TB shape, where the index outlives any
  // one job — reloads the rounds as pruned parquet scans via
  // SuffixArray.load instead of rebuilding. The session ConcurrentHashMap
  // stays as an L1 so the two queries in one JVM share one load.
  private val saCache =
    new java.util.concurrent.ConcurrentHashMap[String, SuffixArray.SA]()

  // The SA-adjacent LCP frame is the second half of the index (every
  // repeat-mass query starts from it), so it shares the memo +
  // persistence lifecycle: computed once per (corpus, stamp), persisted
  // under the same staleness stamp, reloaded as a plain scan.
  private val lcpCache =
    new java.util.concurrent.ConcurrentHashMap[String, DataFrame]()

  /** One index artifact per (application, corpus, stamp), memoized in
    * `memo`. The staleness stamp is the corpus file's mtime+size, so
    * regenerating the data under the same path invalidates both the
    * session memo AND the persisted index (stale index = silently
    * wrong ranks). Memo bounded: key churn clears the map rather than
    * pinning dead blocks for the application's lifetime. Persistence
    * is on by default: `persisted(cache, name, stamp)` loads or builds
    * the artifact in the index database; `graft.sa.persist=false`
    * keeps everything session-local (`local`, for read-only warehouse
    * environments). */
  private def memoized[A](memo: java.util.concurrent.ConcurrentHashMap[String, A],
      spark: SparkSession, dir: String)(
      persisted: (graft.cache.SparkCache, String, String) => A)(local: => A): A = {
    val f = java.nio.file.Paths.get(dir, "documents.parquet")
    val stamp =
      if (java.nio.file.Files.exists(f))
        s"${java.nio.file.Files.getLastModifiedTime(f).toMillis}:${java.nio.file.Files.size(f)}"
      else "absent"
    if (memo.size > 8) memo.clear()
    memo.computeIfAbsent(
      s"${spark.sparkContext.applicationId}|$dir|$stamp",
      _ =>
        if (spark.conf.get("graft.sa.persist", "true").toBoolean) {
          val cache = new graft.cache.SparkCache(spark,
            spark.conf.get("graft.sa.db", "graft_sa_index"))
          cache.reopen() // fresh JVM: re-register leftover index tables
          val name = "sa_" + java.security.MessageDigest.getInstance("MD5")
            .digest(dir.getBytes("UTF-8"))
            .map("%02x".format(_)).mkString.take(12)
          persisted(cache, name, stamp)
        } else local)
  }

  private def cachedSa(spark: SparkSession, dir: String): SuffixArray.SA =
    memoized(saCache, spark, dir) { (cache, name, stamp) =>
      SuffixArray.load(cache, name, stamp).getOrElse {
        val sa = SuffixArray.build(shard(spark, dir), "doc_id", "text")
        SuffixArray.persist(sa, cache, name, stamp)
        // hand back the TABLE-BACKED copy: queries then run over
        // the persisted index's lineage-free pruned scans
        SuffixArray.load(cache, name, stamp).getOrElse(sa)
      }
    }(SuffixArray.build(shard(spark, dir), "doc_id", "text"))

  private def cachedAdjacentLcp(spark: SparkSession, dir: String): DataFrame =
    memoized(lcpCache, spark, dir) { (cache, name, stamp) =>
      SuffixArray.loadAdjacentLcp(cache, name, stamp).getOrElse {
        val lcp = SuffixArray.adjacentLcp(cachedSa(spark, dir)).localCheckpoint()
        SuffixArray.persistAdjacentLcp(lcp, cache, name, stamp)
        SuffixArray.loadAdjacentLcp(cache, name, stamp).getOrElse(lcp)
      }
    }(SuffixArray.adjacentLcp(cachedSa(spark, dir)).localCheckpoint())

  // ------------------------------------------------------------------
  // q163: suffix-array ranks — dense rank of every corpus suffix in
  // lexicographic token order, built by prefix doubling (log-rounds of
  // sort+join over integer pairs; dense numbering via range-sort +
  // distributed prefix sum, never a one-partition window). Output is a
  // deterministic 1-in-7 sample of (doc_id, pos, rank); the oracle
  // recomputes the same ranks by brute-force sorting the suffix lists.
  // ------------------------------------------------------------------
  def q163SuffixRanks(spark: SparkSession, dir: String): DataFrame = {
    val sa = cachedSa(spark, dir)
    sa.ranks
      .filter((col("d") * 131 + col("p")) % 7 === 0)
      .select(col("d").as("doc_id"), col("p").as("pos"), col("rank"))
      .orderBy(col("doc_id").asc, col("pos").asc)
  }

  val q163Sql: String =
    """WITH toks AS (
      |  SELECT doc_id, list_filter(string_split(text, ' '), t -> t <> '') AS tl
      |  FROM documents WHERE doc_id % 10 = 0),
      |suf AS (
      |  SELECT doc_id, pos, list_slice(tl, pos, len(tl)) AS s
      |  FROM (SELECT doc_id, tl, unnest(range(1, len(tl) + 1)) AS pos
      |        FROM toks)),
      |r AS (
      |  SELECT doc_id, pos,
      |    CAST(DENSE_RANK() OVER (ORDER BY s) AS BIGINT) AS rank
      |  FROM suf)
      |SELECT doc_id, pos, rank FROM r
      |WHERE (doc_id * 131 + pos) % 7 = 0
      |ORDER BY doc_id, pos""".stripMargin

  // ------------------------------------------------------------------
  // q164: longest repeated token spans — the exact-substring-dedup
  // primitive: max-LCP over suffix-array-adjacent suffix pairs finds
  // the longest span occurring twice anywhere in the corpus, at ANY
  // length (q106/q116 fix a window up front; this doesn't). LCPs come
  // from the sparse-table descent over the doubling rounds — 2·log(n)
  // keyed joins on the adjacent-pair set. Output: top-10 spans by
  // (length, position), with the span text reconstructed.
  // ------------------------------------------------------------------
  def q164LongestRepeats(spark: SparkSession, dir: String): DataFrame = {
    val docs = shard(spark, dir)
    val withLcp = cachedAdjacentLcp(spark, dir).filter(col("lcp") >= 1)
    val arrays = docs.select(col("doc_id").as("da"),
      array_remove(split(col("text"), " "), "").as("tl"))
    withLcp
      .join(arrays, Seq("da"))
      .select(col("lcp"), col("da"), col("pa"), col("db"), col("pb"),
        concat_ws(" ", slice(col("tl"), col("pa"),
          col("lcp").cast(IntegerType))).as("span"))
      .orderBy(col("lcp").desc, col("da").asc, col("pa").asc,
        col("db").asc, col("pb").asc)
      .limit(10)
  }

  val q164Sql: String =
    """WITH toks AS (
      |  SELECT doc_id, list_filter(string_split(text, ' '), t -> t <> '') AS tl
      |  FROM documents WHERE doc_id % 10 = 0),
      |suf AS (
      |  SELECT doc_id, pos, list_slice(tl, pos, len(tl)) AS s
      |  FROM (SELECT doc_id, tl, unnest(range(1, len(tl) + 1)) AS pos
      |        FROM toks)),
      |ord AS (
      |  SELECT doc_id, pos, s,
      |    ROW_NUMBER() OVER (ORDER BY s, doc_id, pos) AS rn
      |  FROM suf),
      |adj AS (
      |  SELECT a.doc_id AS da, a.pos AS pa, b.doc_id AS db, b.pos AS pb,
      |    a.s AS sa, b.s AS sb
      |  FROM ord a JOIN ord b ON b.rn = a.rn + 1),
      |l AS (
      |  SELECT da, pa, db, pb,
      |    CAST(len(list_filter(range(1, least(len(sa), len(sb)) + 1),
      |      i -> list_slice(sa, 1, i) = list_slice(sb, 1, i))) AS BIGINT)
      |      AS lcp,
      |    sa
      |  FROM adj)
      |SELECT lcp, da, pa, db, pb,
      |  array_to_string(list_slice(sa, 1, lcp), ' ') AS span
      |FROM l WHERE lcp >= 1
      |ORDER BY lcp DESC, da, pa, db, pb
      |LIMIT 10""".stripMargin

  // ------------------------------------------------------------------
  // q165: robust winnowing fingerprints (Schleimer–Wilkerson–Aiken
  // 2003, the MOSS algorithm) + fingerprint-overlap pairs. Each doc's
  // 3-token-gram hash sequence is windowed (w = 4); each window
  // contributes its RIGHTMOST minimal hash, so any shared span of
  // ≥ w+k-1 = 6 tokens is guaranteed to share a fingerprint while only
  // ~2/(w+1) of all grams are kept — the guaranteed-recall/sublinear-
  // index trade the paper proves. Overlap = fingerprint-hash join.
  //
  // Scale shape: gram hashing and winnowing are two compiled kernels
  // in one projection per class (`rollingWindowHashes` → `winnow`, no
  // per-gram rows, no shuffle), and the pair join carries only selected
  // fingerprints with a document-frequency cap (≤ 50 docs) so
  // boilerplate hashes can't go quadratic — the q114 stop-token rule.
  // ------------------------------------------------------------------
  def q165Winnowing(spark: SparkSession, dir: String): DataFrame = {
    val W = 4
    // exact-duplicate collapse FIRST (the q31/q114/q134 guard):
    // fingerprints depend only on text, so winnowing runs once per
    // distinct content and the pair join sees one row per class, not
    // per copy — duplicate-heavy corpora otherwise square the join.
    val classes = Tables.documents(spark, dir)
      .groupBy(col("text"))
      .agg(min(col("doc_id")).as("cid"),
        collect_list(col("doc_id")).as("members"))
      .localCheckpoint() // read by the fingerprint pass and both expansions
    // fingerprint set = the distinct window minima per class: which
    // position of a tied minimum a window selects (MOSS takes the
    // rightmost) never changes the selected hash, and only hashes are
    // kept
    val fp = classes.select(col("cid"), size(col("members")).as("copies"),
      explode(graft.functions.OverlapFunctions.winnow(
        graft.functions.TextHashFunctions.rollingWindowHashes(col("text"), 3), W))
        .as("h"))
    // document frequency counts DOCS (class copies included), matching
    // the uncollapsed formulation the oracle computes. Bucket-grouped
    // pair engine (round 16, the PostingPairs shape): ONE groupBy(h)
    // builds each kept fingerprint's class list — the df ≤ 50 cap on
    // COPIES bounds the bucket at 50 classes — replacing the former
    // df-agg + semi-join + fingerprint self-join (which planned the
    // kept-set subtree once per join side).
    // the cid collect is BOUNDED at cap + 1 (round 17, PostingPairs'
    // convention): df = Σcopies ≤ cap keeps a bucket and every class has
    // ≥ 1 copy, so a hot fingerprint never buffers O(df) class ids, and
    // a bucket with more than cap classes is dropped either way
    val cap = 50
    val buckets = fp
      .groupBy(col("h"))
      .agg(graft.functions.BoundedCollectList.boundedCollectList(
        col("cid"), cap + 1).as("cids"), sum(col("copies")).as("df"))
      .filter(col("df") <= cap)
      .select(col("cids"))
      .localCheckpoint() // read by the pair explode AND the within tally
    val classPairs = buckets
      .select(explode(col("cids")).as("ca"), col("cids"))
      .select(col("ca"), explode(col("cids")).as("cb"))
      .filter(col("ca") < col("cb"))
      .groupBy(col("ca"), col("cb"))
      .agg(count(lit(1)).as("n_shared"))
    // identical docs share every df-kept fingerprint of their class
    val withinShared = buckets
      .select(explode(col("cids")).as("cid"))
      .groupBy(col("cid")).agg(count(lit(1)).as("n_shared"))
      .join(classes.filter(size(col("members")) > 1)
        .select(col("cid"), col("members")), "cid")
    val memb = classes.select(col("cid"), col("members"))
    val cross = classPairs
      .join(memb.select(col("cid").as("ca"), col("members").as("ma")), "ca")
      .join(memb.select(col("cid").as("cb"), col("members").as("mb")), "cb")
      .select(explode(col("ma")).as("xa"), col("mb"), col("n_shared"))
      .select(col("xa"), explode(col("mb")).as("xb"), col("n_shared"))
    val within = withinShared
      .select(col("n_shared"), explode(col("members")).as("xa"), col("members"))
      .select(col("n_shared"), col("xa"), explode(col("members")).as("xb"))
      .filter(col("xa") < col("xb"))
    cross.unionByName(within.select(col("xa"), col("xb"), col("n_shared")))
      .select(least(col("xa"), col("xb")).as("da"),
        greatest(col("xa"), col("xb")).as("db"), col("n_shared"))
      .orderBy(col("n_shared").desc, col("da").asc, col("db").asc)
      .limit(20)
  }

  val q165Sql: String =
    """WITH toks AS (
      |  SELECT doc_id, string_split(text, ' ') AS tl FROM documents),
      |grams AS (
      |  SELECT doc_id, q,
      |    md5(concat_ws(' ', tl[q], tl[q+1], tl[q+2])) AS h
      |  FROM (SELECT doc_id, tl,
      |          unnest(range(1, greatest(len(tl) - 2, 0) + 1)) AS q
      |        FROM toks)),
      |wins AS (
      |  SELECT doc_id, q AS i, minh FROM (
      |    SELECT doc_id, q,
      |      COUNT(*) OVER (PARTITION BY doc_id) AS n,
      |      MIN(h) OVER (PARTITION BY doc_id ORDER BY q
      |        ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS minh
      |    FROM grams) x
      |  WHERE q <= n - 3),
      |fp AS (
      |  SELECT DISTINCT doc_id, minh AS h FROM (
      |    SELECT w.doc_id, w.i, w.minh, MAX(g.q) AS sel_q
      |    FROM wins w JOIN grams g
      |      ON g.doc_id = w.doc_id AND g.h = w.minh
      |     AND g.q BETWEEN w.i AND w.i + 3
      |    GROUP BY w.doc_id, w.i, w.minh) s),
      |keep AS (
      |  SELECT h FROM fp GROUP BY h HAVING COUNT(DISTINCT doc_id) <= 50)
      |SELECT a.doc_id AS da, b.doc_id AS db, COUNT(*) AS n_shared
      |FROM fp a JOIN fp b ON a.h = b.h AND a.doc_id < b.doc_id
      |WHERE a.h IN (SELECT h FROM keep)
      |GROUP BY 1, 2
      |ORDER BY n_shared DESC, da, db
      |LIMIT 20""".stripMargin

  // ------------------------------------------------------------------
  // q224: duplicated-token fraction — the Lee et al. 2022 §4 headline
  // number for exact-substring dedup: what fraction of each source's
  // tokens sits inside a span of ≥ L tokens that occurs AT LEAST TWICE
  // anywhere in the corpus (within or across docs)? q164 finds the
  // single longest repeat; this measures the total duplicated MASS the
  // dedup pass would touch — the go/no-go audit before running it.
  //
  // Exactness via the SA property that the max LCP of a suffix with
  // ANY other suffix is attained at an SA-order neighbor: a substring
  // starting at position q occurs twice iff its length ≤ maxlcp(q) =
  // max(LCP with prev, LCP with next). Token i of doc d is duplicated
  // iff some q ≤ i has maxlcp(q) ≥ max(L, i−q+1) — i.e. i lies in the
  // interval [q, q+maxlcp(q)) of a suffix with maxlcp(q) ≥ L. Tokens
  // covered = per-doc interval-union length, computed by the
  // running-max-end sweep (one doc-keyed window), never materializing
  // per-token rows.
  //
  // Scale shape: reuses the PERSISTED suffix-array index (q163/q164's
  // build, reloaded as pruned scans); adjacent pairs + the LCP descent
  // are 2·log(n) keyed joins on the pair set; the neighbor-max and the
  // sweep are one (d,p) shuffle + one doc-partitioned window; output
  // is one row per source.
  // ------------------------------------------------------------------
  /**
   * Per-doc interval-union length: spans (d, p, m) = "[p, p+m) is
   * covered in doc d" → (d, dup) = total covered positions, overlaps
   * and nesting counted ONCE. One doc-keyed window, never per-token
   * rows: a span's contribution is end − max(start, running max end of
   * earlier-starting spans), clamped at 0 (a nested span's end never
   * exceeds the running max → contributes 0; a partial overlap counts
   * only its uncovered tail). Correctness-critical for q224 and pinned
   * by IntervalUnionSweepSpec against a brute-force position-marking
   * reference.
   */
  private[graft] def intervalUnionCovered(spans: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("d")).orderBy(col("p").asc)
      .rowsBetween(Window.unboundedPreceding, -1)
    spans
      .withColumn("e", col("p") + col("m")) // exclusive end
      .withColumn("pm", max(col("e")).over(w))
      .select(col("d"),
        greatest(lit(0L),
          col("e") - greatest(col("p"), coalesce(col("pm"), col("p"))))
          .as("cov"))
      .groupBy(col("d")).agg(sum(col("cov")).as("dup"))
  }

  def q224DupTokenFraction(spark: SparkSession, dir: String): DataFrame = {
    val L = 5
    val docs = shard(spark, dir)
    // read twice (once per neighbor direction) from the shared
    // memoized/persisted LCP frame
    val withLcp = cachedAdjacentLcp(spark, dir)
    val spans = withLcp.select(col("da").as("d"), col("pa").as("p"), col("lcp"))
      .unionByName(
        withLcp.select(col("db").as("d"), col("pb").as("p"), col("lcp")))
      .groupBy(col("d"), col("p")).agg(max(col("lcp")).as("m"))
      .filter(col("m") >= L)
    val covered = intervalUnionCovered(spans)
    docs
      .select(col("doc_id").as("d"), col("source"),
        size(array_remove(split(col("text"), " "), ""))
          .cast(LongType).as("toks"))
      .join(covered, Seq("d"), "left_outer")
      .groupBy(col("source"))
      .agg(sum(col("toks")).as("total_tokens"),
        sum(coalesce(col("dup"), lit(0L))).as("dup_tokens"))
      .withColumn("dup_permille",
        expr("dup_tokens * 1000 div total_tokens"))
      .orderBy(col("source"))
  }

  val q224Sql: String =
    """WITH toks AS (
      |  SELECT doc_id, source,
      |    list_filter(string_split(text, ' '), t -> t <> '') AS tl
      |  FROM documents WHERE doc_id % 10 = 0),
      |suf AS (
      |  SELECT doc_id, pos, list_slice(tl, pos, len(tl)) AS s
      |  FROM (SELECT doc_id, tl, unnest(range(1, len(tl) + 1)) AS pos
      |        FROM toks)),
      |ord AS (
      |  SELECT doc_id, pos, s,
      |    ROW_NUMBER() OVER (ORDER BY s, doc_id, pos) AS rn
      |  FROM suf),
      |adj AS (
      |  SELECT a.doc_id AS da, a.pos AS pa, b.doc_id AS db, b.pos AS pb,
      |    CAST(len(list_filter(range(1, least(len(a.s), len(b.s)) + 1),
      |      i -> list_slice(a.s, 1, i) = list_slice(b.s, 1, i))) AS BIGINT)
      |      AS lcp
      |  FROM ord a JOIN ord b ON b.rn = a.rn + 1),
      |spans AS (
      |  SELECT d, p, MAX(lcp) AS m FROM (
      |    SELECT da AS d, pa AS p, lcp FROM adj
      |    UNION ALL SELECT db, pb, lcp FROM adj) u
      |  GROUP BY d, p HAVING MAX(lcp) >= 5),
      |sweep AS (
      |  SELECT d, p, p + m AS e,
      |    MAX(p + m) OVER (PARTITION BY d ORDER BY p
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pm
      |  FROM spans),
      |cov AS (
      |  SELECT d, CAST(SUM(GREATEST(0, e - GREATEST(p, COALESCE(pm, p))))
      |    AS BIGINT) AS dup
      |  FROM sweep GROUP BY d),
      |tot AS (
      |  SELECT doc_id AS d, source, CAST(len(tl) AS BIGINT) AS toks
      |  FROM toks)
      |SELECT source,
      |  CAST(SUM(toks) AS BIGINT) AS total_tokens,
      |  CAST(SUM(COALESCE(dup, 0)) AS BIGINT) AS dup_tokens,
      |  CAST(SUM(COALESCE(dup, 0)) * 1000 // SUM(toks) AS BIGINT)
      |    AS dup_permille
      |FROM tot LEFT JOIN cov USING (d)
      |GROUP BY source
      |ORDER BY source""".stripMargin
}
