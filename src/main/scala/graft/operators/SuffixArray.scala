package graft.operators

import scala.collection.mutable.ListBuffer

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.cache.CacheTables

/**
 * Distributed suffix array over a tokenized corpus — prefix doubling
 * (Manber–Myers / the Karp–Miller–Rosenberg scheme), the classic
 * O(log n)-round formulation that MapReduce/Spark SA literature uses
 * because every round is plain sort + join, nothing is ever compared
 * beyond fixed-size integer pairs, and no machine ever needs a whole
 * suffix in memory.
 *
 * Why this exists next to the windowed span dedup (q106/q116): those
 * fix a window length up front; the suffix array answers the
 * *unbounded* question — the exact longest repeated token span in the
 * corpus, at any length — which is the primitive behind
 * exact-substring dedup of training corpora (Lee et al. 2022,
 * "Deduplicating Training Data Makes Language Models Better",
 * §4.1 builds exactly this structure).
 *
 * Scale shape per round: one distinct over (rank, rank) pairs, one
 * range-sort of the distinct keys, one join back — every step keyed
 * and partition-parallel. Global dense numbering uses range
 * repartition + per-partition offsets (RDD zipWithIndex — the same
 * distributed prefix-sum q75's packer uses), NEVER a one-partition
 * window. Rounds = ⌈log₂ max-doc-tokens⌉ (~10 for web docs), each a
 * localCheckpoint so the lineage doesn't stack.
 *
 * Reference scope: PyAirbyte has no analytics engine (SURVEY §2.11 —
 * querying is delegated); this is part of the training-data query
 * surface built on top of the cache.
 */
object SuffixArray {

  /** Tokenized corpus: (d, p, tok) with 1-based positions, empty
    * tokens dropped (the q159 convention, = DuckDB list_filter). */
  def tokens(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs.select(col(idCol).cast(LongType).as("d"),
        array_remove(split(col(textCol), " "), "").as("tl"))
      .select(col("d"), posexplode(col("tl")))
      .select(col("d"), (col("pos") + 1).cast(LongType).as("p"),
        col("col").as("tok"))

  /**
   * Dense global ranks (1-based, ties share a rank, ranks contiguous)
   * for rows of `df` ordered by `cols` — distributed: range-partition
   * so partitions are globally ordered, then zipWithIndex (internally
   * a per-partition count + offset pass, no data through the driver).
   * Input rows must be distinct for the result to be a dense RANKING;
   * callers pass `.distinct()` key sets.
   */
  private[graft] def denseIndex(df: DataFrame, cols: Seq[String],
      numPartitions: Int = 0): DataFrame = {
    val spark = df.sparkSession
    val parts =
      if (numPartitions > 0) numPartitions
      else spark.conf.get("spark.sql.shuffle.partitions", "32").toInt
    val sorted = df.repartitionByRange(parts, cols.map(col): _*)
      .sortWithinPartitions(cols.map(col): _*)
    val schema = StructType(sorted.schema.fields :+
      StructField("rank", LongType, nullable = false))
    val rdd = sorted.rdd.zipWithIndex().map { case (r, i) =>
      Row.fromSeq(r.toSeq :+ (i + 1L))
    }
    spark.createDataFrame(rdd, schema)
  }

  /**
   * Prefix-doubling result: `ranks` = (d, p, rank) final dense suffix
   * ranks (equal suffixes share a rank — the DENSE_RANK a SQL oracle
   * computes over the sorted suffix lists); `rounds` = (len, table)
   * rank tables where rank equality ⟺ the first min(len, remaining)
   * tokens AND termination pattern agree — kept for the LCP descent.
   */
  final case class SA(ranks: DataFrame, rounds: Seq[(Long, DataFrame)],
      nSuffixes: Long)

  def build(docs: DataFrame, idCol: String, textCol: String,
      maxIters: Int = 40): SA = {
    val toks = tokens(docs, idCol, textCol).localCheckpoint()
    val n = toks.count()
    val maxLen = if (n == 0) 0L
      else toks.groupBy(col("d")).count().agg(max("count")).collect()(0).getLong(0)
    // rounds shuffle fixed-size integer pairs; at ~1M rows/partition
    // the per-round scheduling overhead stops dominating small inputs
    // while a corpus-scale run still fans out to the configured width.
    val parts = math.max(1, math.min(
      toks.sparkSession.conf.get("spark.sql.shuffle.partitions", "32").toInt,
      (n / 1000000L).toInt + 1))

    // base: rank suffixes by their first token (binary string order —
    // identical in Spark (UTF8String) and DuckDB (binary collation))
    val tok0 = denseIndex(toks.select("tok").distinct(), Seq("tok"), parts)
    var cur = toks.join(tok0, "tok")
      .select(col("d"), col("p"), col("rank")).localCheckpoint()
    var distinct = tok0.count()
    val rounds = ListBuffer[(Long, DataFrame)]((1L, cur))

    var off = 1L
    var iters = 0
    // convergence (all ranks distinct) is polled every third round:
    // the poll is a whole extra job, and the off < maxLen bound already
    // caps rounds at log2(longest doc), so at most two cheap surplus
    // rounds run after early convergence.
    while (distinct < n && off < maxLen && iters < maxIters) {
      // rank of the suffix `off` positions later; absent (this suffix
      // ends within `off`) → 0, which sorts before every real rank —
      // the shorter-prefix-sorts-first rule.
      val nxt = cur
        .join(cur.select(col("d"), (col("p") - off).as("p"),
          col("rank").as("r2")), Seq("d", "p"), "left_outer")
        .select(col("d"), col("p"), col("rank").as("r1"),
          coalesce(col("r2"), lit(0L)).as("r2"))
      val dk = denseIndex(nxt.select("r1", "r2").distinct(),
        Seq("r1", "r2"), parts)
      cur = nxt.join(dk, Seq("r1", "r2"))
        .select(col("d"), col("p"), col("rank")).localCheckpoint()
      off *= 2
      iters += 1
      if (iters % 3 == 0) distinct = dk.count()
      rounds += ((off, cur))
    }
    SA(cur, rounds.toSeq, n)
  }

  /**
   * Longest-common-prefix (in tokens) for suffix pairs, via the
   * sparse-table descent over the doubling rounds: from the largest
   * prefix length down, if both sides' ranks at the current offset
   * agree, the next `len` tokens match — add and advance. For
   * non-identical suffixes, round-table rank equality implies both
   * remainders are ≥ len (a suffix ending inside the window carries a
   * 0-padded rank and cannot tie), so the addition never overshoots;
   * fully identical suffixes are resolved up front from the final
   * ranks (lcp = whole remaining length). 2·rounds keyed joins total,
   * each proportional to the PAIR set, not the corpus.
   *
   * @param pairs (da, pa, db, pb)
   * @return pairs + `lcp` column
   */
  def lcp(sa: SA, pairs: DataFrame): DataFrame = {
    val fin = sa.ranks
    val lens = fin.groupBy(col("d")).agg(max(col("p")).as("len"))
    // identical suffixes: same final rank → lcp = remaining length
    // (equal suffixes have equal remaining length by construction)
    val tagged = pairs
      .join(fin.select(col("d").as("da"), col("p").as("pa"),
        col("rank").as("ra")), Seq("da", "pa"))
      .join(fin.select(col("d").as("db"), col("p").as("pb"),
        col("rank").as("rb")), Seq("db", "pb"))
      .join(lens.select(col("d").as("da"), col("len").as("la")), Seq("da"))
      .withColumn("same", col("ra") === col("rb"))
    val identical = tagged.filter(col("same"))
      .select(col("da"), col("pa"), col("db"), col("pb"),
        (col("la") - col("pa") + 1L).as("lcp"))
    var work = tagged.filter(!col("same"))
      .select(col("da"), col("pa"), col("db"), col("pb"), lit(0L).as("lcp"))
      .localCheckpoint()
    sa.rounds.sortBy(-_._1).foreach { case (len, table) =>
      val a = table.select(col("d").as("da"), col("p").as("qa"),
        col("rank").as("ra"))
      val b = table.select(col("d").as("db"), col("p").as("qb"),
        col("rank").as("rb"))
      work = work
        .withColumn("qa", col("pa") + col("lcp"))
        .withColumn("qb", col("pb") + col("lcp"))
        .join(a, Seq("da", "qa"), "left_outer")
        .join(b, Seq("db", "qb"), "left_outer")
        .withColumn("lcp",
          when(col("ra").isNotNull && col("ra") === col("rb"),
            col("lcp") + len).otherwise(col("lcp")))
        .select(col("da"), col("pa"), col("db"), col("pb"), col("lcp"))
        .localCheckpoint()
    }
    identical.unionByName(work)
  }

  // ------------------------------------------------------------------
  // Index persistence — the suffix array is BUILD-ONCE-QUERY-MANY: at
  // corpus scale the log-rounds construction is the expensive step and
  // its output is an index other sessions interrogate, so it persists
  // to cache tables instead of dying with the session memo. Layout:
  //   <name>__rounds : (d, p, rank) partitioned by len — one partition
  //                    directory per doubling round, so loading round
  //                    `len` is a PRUNED scan of that directory only
  //   <name>__meta   : (n_suffixes, stamp, n_rounds) — `stamp` is the
  //                    caller's corpus staleness token (mtime+size);
  //                    a mismatch means the corpus was regenerated
  //                    under the same path and the index is invalid
  // Tables are written EXTERNAL (explicit path under the cache db) so
  // a fresh JVM's in-memory catalog can re-register them via
  // SparkCache.reopen() — the same recovery path the ELT tables use.
  // ------------------------------------------------------------------

  /** Persist a built index under `name` in `cache`. Overwrites any
    * previous index of that name (stale rounds never survive: the
    * rounds table is replaced in one overwrite, meta last). */
  def persist(sa: SA, cache: graft.cache.SparkCache, name: String,
      stamp: String): Unit = {
    val spark = sa.ranks.sparkSession
    val all = sa.rounds
      .map { case (len, t) =>
        t.select(col("d"), col("p"), col("rank"), lit(len).as("len"))
      }
      .reduce(_.unionByName(_))
    writeExternal(cache, s"${name}__rounds", all, partitionBy = Seq("len"))
    val meta = spark.createDataFrame(
      spark.sparkContext.parallelize(
        Seq(Row(sa.nSuffixes, stamp, sa.rounds.size)), 1),
      StructType(Seq(
        StructField("n_suffixes", LongType, nullable = false),
        StructField("stamp", StringType, nullable = false),
        StructField("n_rounds", IntegerType, nullable = false))))
    writeExternal(cache, s"${name}__meta", meta, partitionBy = Nil)
  }

  /** Reload a persisted index, or None when absent / stamp-stale /
    * structurally short (meta written but rounds incomplete). Round
    * tables come back as PRUNED scans of the partitioned rounds table
    * — no localCheckpoint: reading the index from parquet IS the
    * scale behavior persistence exists for. */
  def load(cache: graft.cache.SparkCache, name: String,
      stamp: String): Option[SA] = {
    if (!cache.tableExists(s"${name}__meta") ||
        !cache.tableExists(s"${name}__rounds")) return None
    val metaRow = cache.table(s"${name}__meta").collect().headOption
      .getOrElse(return None)
    if (metaRow.getAs[String]("stamp") != stamp) return None
    val rounds = cache.table(s"${name}__rounds")
    // partition-column type is directory-name-inferred (IntegerType
    // for small lens) — normalize to Long explicitly
    val lens = rounds.select(col("len").cast(LongType)).distinct()
      .collect().map(_.getLong(0)).sorted.toSeq
    if (lens.size != metaRow.getAs[Int]("n_rounds")) return None
    val tables = lens.map { l =>
      (l, rounds.filter(col("len") === l).select("d", "p", "rank"))
    }
    Some(SA(tables.last._2, tables, metaRow.getAs[Long]("n_suffixes")))
  }

  /** Persist the SA-adjacent LCP frame (da, pa, db, pb, lcp) — the
    * canonical companion array of a suffix array: every repeat-mass
    * query (longest repeats, duplicated-token fraction) starts from
    * it, so it persists next to the rounds under the SAME staleness
    * stamp (carried as a column; one table, no second meta). */
  def persistAdjacentLcp(lcp: DataFrame, cache: graft.cache.SparkCache,
      name: String, stamp: String): Unit =
    writeExternal(cache, s"${name}__lcp",
      lcp.select(col("da"), col("pa"), col("db"), col("pb"), col("lcp"),
        lit(stamp).as("stamp")),
      partitionBy = Nil)

  /** Reload the persisted adjacent-LCP frame, or None when absent /
    * stamp-stale / empty (an empty frame is cheap to recompute and
    * indistinguishable from a failed write). */
  def loadAdjacentLcp(cache: graft.cache.SparkCache, name: String,
      stamp: String): Option[DataFrame] = {
    if (!cache.tableExists(s"${name}__lcp")) return None
    val t = cache.table(s"${name}__lcp")
    val st = t.select(col("stamp")).limit(1).collect()
      .headOption.map(_.getString(0))
    if (!st.contains(stamp)) None
    else Some(t.select("da", "pa", "db", "pb", "lcp"))
  }

  /** The SA-adjacent pair set with LCPs, computed from a built index:
    * global order, rn/rn+1 self-join, sparse-table LCP descent. */
  def adjacentLcp(sa: SA): DataFrame = {
    val ord = order(sa).localCheckpoint()
    val pairs = ord.as("a")
      .join(ord.as("b"), col("b.rn") === col("a.rn") + 1)
      .select(col("a.d").as("da"), col("a.p").as("pa"),
        col("b.d").as("db"), col("b.p").as("pb"))
    lcp(sa, pairs)
  }

  /** External-table overwrite under the cache db's directory: data at
    * an explicit LOCATION so `DROP TABLE` / a dead catalog never
    * deletes the index, and `reopen()` can re-register it. */
  private def writeExternal(cache: graft.cache.SparkCache, stream: String,
      df: DataFrame, partitionBy: Seq[String]): Unit = {
    val spark = df.sparkSession
    val t = cache.tableName(stream)
    // directory = the catalog's database location (what reopen() walks,
    // honoring a custom LOCATION) + the PREFIXED table name (what
    // reopen() registers) — deriving either differently would register
    // the index under a name load() never looks up (silent rebuild)
    val dir = new org.apache.hadoop.fs.Path(
      new org.apache.hadoop.fs.Path(
        spark.catalog.getDatabase(cache.database).locationUri),
      cache.tablePrefix + graft.names.NameNormalizer.normalize(stream))
    spark.sql(s"DROP TABLE IF EXISTS $t")
    val w = df.write.mode("overwrite").option("path", dir.toString)
    CacheTables.save(if (partitionBy.nonEmpty) w.partitionBy(partitionBy: _*) else w, t)
  }

  /**
   * Suffix-array order as a global 1-based row number (ties in rank
   * broken by (d, p) — the deterministic adjacency a SQL oracle's
   * ROW_NUMBER(ORDER BY suffix, d, p) produces), distributed via the
   * same range-sort + zipWithIndex scheme.
   */
  def order(sa: SA): DataFrame =
    denseIndex(sa.ranks.withColumnRenamed("rank", "srank"),
      Seq("srank", "d", "p"))
      .withColumnRenamed("rank", "rn") // (d, p, srank, rn) — rn is a
                                       // permutation: input rows are
                                       // distinct (one row per suffix)
}
