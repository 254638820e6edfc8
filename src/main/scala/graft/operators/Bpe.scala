package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/**
 * Distributed byte-pair-encoding merge learning (Sennrich et al. 2016,
 * "Neural Machine Translation of Rare Words with Subword Units" — the
 * tokenizer-training step of an LLM data pipeline).
 *
 * Scale shape: BPE statistics live on the WORD VOCABULARY, not the
 * corpus — the first aggregation collapses the corpus to (word, count)
 * (one hash shuffle, map-side combined), and every round after that
 * runs on the vocabulary table only (millions of rows at web scale,
 * not billions). Rounds are BATCHED: instead of one Spark job per
 * merge (32k merges = 32k sequential jobs, hours of scheduler
 * overhead at a real vocabulary size), each round fetches the top-W
 * pair candidates once and applies every merge that PROVABLY equals
 * the sequential result in a single distributed rewrite — typically
 * tens of merges per round early on, collapsing the job count by
 * 1–2 orders of magnitude while staying byte-identical to the
 * one-at-a-time algorithm (BpeSpec pins parity at k=200).
 *
 * The exactness argument for a batch, walking candidates in rank
 * order (count DESC, left, right) and stopping at the FIRST conflict:
 *  - accepted candidates are pairwise symbol-disjoint and their merged
 *    strings are fresh (not an existing symbol, not another accepted
 *    merge's result), so applying any prefix of the batch leaves the
 *    remaining accepted candidates' counts unchanged;
 *  - every pair that any applied merge can decrease shares a symbol
 *    with it, hence is "conflicting" and ranks at/below the first
 *    conflict (anything above was itself accepted), so its count is
 *    <= the first conflict's count;
 *  - every pair a merge CREATES, (x, l+r) or (l+r, y), is bounded by
 *    its parent pair (x, l) / (r, y), which conflicts, so created
 *    pairs are also <= the first conflict's count (and any conflicting
 *    pair with a HIGHER count is impossible: it would rank above the
 *    first conflict, so the walk either accepted it — contradiction
 *    with sharing a symbol — or stopped there first);
 *  - candidates with count STRICTLY above the first conflict's are
 *    therefore still the global argmax at their sequential turn.
 *    Candidates TIED with the conflict count win their ties too,
 *    except against created pairs: ties vs still-standing or decreased
 *    conflicting pairs resolve by the (left, right) ascending
 *    tiebreak, which the candidate wins by rank position; ties vs an
 *    (x, l+r) creation resolve for the candidate (its parent (x, l)
 *    ranks at/below the conflict, forcing x/(x-prefix) above the
 *    candidate's name); but an (l+r, y) creation can undercut the
 *    candidate's name, so a tied candidate is kept only if NO earlier
 *    accepted merge (l, r) has a parent pair (r, y) at exactly the
 *    conflict count whose created name (l+r, y) precedes the
 *    candidate's — all checkable inside the fetched window. If the
 *    window fills without a conflict, the last fetched count is the
 *    bound (unseen pairs rank below it); if the candidate list is
 *    exhausted, no pair conflicts at all and the whole batch is safe.
 *
 * Determinism: the winning pair is (count DESC, left ASC, right ASC) —
 * a total order, so learned merges are reproducible across partitionings.
 */
/** (word-as-symbol-array, count) vocabulary row — top-level so Spark's
  * bean/product encoder codegen can reach the constructor. */
case class BpeVocab(syms: Seq[String], cnt: Long)

object Bpe {

  /** Adjacent-pair counts over the current symbol vocabulary.
    * (Fully-merged single-symbol words carry no pairs — and Spark's
    * `sequence(1, 0)` counts DOWN, so they must not reach the lambda.) */
  /** Package-visible so the loop-iteration plan gate
    * (ExchangeBudgetSpec) can pin this stage's shuffle budget. */
  private[graft] def pairCounts(vocab: DataFrame): DataFrame =
    vocab
      .filter(size(col("syms")) >= 2)
      .select(explode(expr(
        "transform(sequence(1, size(syms) - 1), i -> struct(syms[i-1] AS l, syms[i] AS r))"))
        .as("p"), col("cnt"))
      .groupBy(col("p.l").as("l"), col("p.r").as("r"))
      .agg(sum(col("cnt")).as("pair_cnt"))

  /**
   * Learn `k` merges from a text column. Returns one row per merge:
   * (step, left, right, merged, pair_cnt), step = 1..k in learning order.
   * Byte-identical to the sequential one-merge-per-job algorithm (see
   * the batching proof in the object Scaladoc); each round fetches a
   * candidate window of up to 256 pairs.
   */
  def learnMerges(df: DataFrame, textCol: String, k: Int): DataFrame =
    learnMergesWithRounds(df, textCol, k)._1

  private val Window = 256

  /** learnMerges plus the number of distributed rounds it took — the
    * scale metric the batching exists for (rounds << k). */
  def learnMergesWithRounds(df: DataFrame, textCol: String, k: Int): (DataFrame, Int) =
    learnMergesWithRounds(df, textCol, k, Window)

  /** `window` caps the candidate window per round (1 = the sequential
    * one-merge-per-job algorithm, which tests compare against). */
  private[graft] def learnMergesWithRounds(df: DataFrame, textCol: String, k: Int,
      window: Int): (DataFrame, Int) = {
    val spark = df.sparkSession
    import spark.implicits._

    // corpus → word vocabulary with counts; words split to char symbols.
    var vocab: DataFrame = df
      .select(explode(split(col(textCol), " ")).as("w"))
      .filter(col("w") =!= "")
      .groupBy(col("w")).agg(count(lit(1)).as("cnt"))
      .select(expr("transform(sequence(1, length(w)), i -> substring(w, i, 1))")
        .as("syms"), col("cnt"))
      .localCheckpoint() // each round rewrites this frame

    // symbol inventory, for merged-string collision detection (a merge
    // result equal to an EXISTING symbol would let created pairs boost
    // old pair identities, breaking the batch bound)
    val known = scala.collection.mutable.Set.empty[String]
    known ++= vocab.select(explode(col("syms")).as("s")).distinct().as[String].collect()

    val merges = scala.collection.mutable.ArrayBuffer.empty[(Int, String, String, String, Long)]
    var rounds = 0
    var exhausted = false
    while (merges.size < k && !exhausted) {
      // ONE vocabulary-sized aggregation per round; W rows to the driver.
      val cands = pairCounts(vocab)
        .orderBy(col("pair_cnt").desc, col("l"), col("r"))
        .limit(window)
        .as[(String, String, Long)].collect()
      if (cands.isEmpty) exhausted = true
      else {
        rounds += 1
        // rank-order prefix of mutually-safe merges (see Scaladoc proof)
        val accepted = scala.collection.mutable.ArrayBuffer.empty[(String, String, Long)]
        val used = scala.collection.mutable.Set.empty[String]
        var conflictCnt = -1L
        var i = 0
        var stop = false
        while (i < cands.length && !stop) {
          val (l, r, c) = cands(i)
          val merged = l + r
          if (accepted.isEmpty) {
            accepted += cands(i)
            used ++= Seq(l, r, merged)
            // the argmax itself is always exact; but a result string
            // colliding with an existing symbol lets created pairs boost
            // old identities, and a SELF-merge (l == r) creates pairs
            // whose parent is the merge itself (runs like "aaa" ->
            // (aa, a)), unbounded by any conflict — either way nothing
            // after it is safe this round
            if (known.contains(merged) || l == r) stop = true
          } else if (used.contains(l) || used.contains(r) ||
              used.contains(merged) || known.contains(merged) || l == r) {
            conflictCnt = c
            stop = true
          } else {
            accepted += cands(i)
            used ++= Seq(l, r, merged)
          }
          i += 1
        }
        // window filled without a conflict: unseen pairs all rank below
        // the last fetched count, so it bounds the interference instead
        if (!stop && cands.length == window) conflictCnt = cands.last._3
        // tie refinement (Scaladoc proof): a candidate AT the conflict
        // count survives unless an earlier accepted merge (l, r) has a
        // parent (r, y) at exactly the conflict count whose creation
        // (l+r, y) would out-rank the candidate's name. Parents beyond
        // a window cut at that count are invisible — be conservative.
        val parentsAtCf = cands.filter(_._3 == conflictCnt)
        val cfCutByWindow = cands.length == window && cands.last._3 == conflictCnt
        val safe = scala.collection.mutable.ArrayBuffer(accepted.head)
        var trimmed = false
        accepted.tail.foreach { case cand @ (la, ra, c) =>
          if (!trimmed) {
            val keep =
              if (c > conflictCnt) true
              else if (c == conflictCnt && !cfCutByWindow) {
                !safe.exists { case (lj, rj, _) =>
                  val mj = lj + rj
                  parentsAtCf.exists { case (pl, py, _) =>
                    pl == rj && (mj < la || (mj == la && py < ra))
                  }
                }
              } else false
            if (keep) safe += cand else trimmed = true
          }
        }
        val batchMerges = safe.take(k - merges.size)
        batchMerges.foreach { case (l, r, c) =>
          merges += ((merges.size + 1, l, r, l + r, c))
          known += l + r
        }
        // apply the whole batch in ONE distributed rewrite: per word,
        // each merge in batch order as the canonical greedy left-to-right
        // non-overlapping scan (order is immaterial — merges are symbol-
        // disjoint — but matches the sequential algorithm by construction)
        val batch = batchMerges.map { case (l, r, _) => (l, r) }.toArray
        vocab = vocab.as[BpeVocab].map { v =>
          var syms: Seq[String] = v.syms
          batch.foreach { case (l, r) =>
            if (syms.length >= 2) {
              val out = scala.collection.mutable.ArrayBuffer.empty[String]
              var i = 0
              while (i < syms.length) {
                if (i + 1 < syms.length && syms(i) == l && syms(i + 1) == r) {
                  out += l + r; i += 2
                } else { out += syms(i); i += 1 }
              }
              syms = out.toSeq
            }
          }
          BpeVocab(syms, v.cnt)
        }.toDF("syms", "cnt").localCheckpoint()
      }
    }
    (merges.toSeq.toDF("step", "left", "right", "merged", "pair_cnt"), rounds)
  }

  /**
   * Apply a learned merge table to a text column: per-document token
   * count under the subword vocabulary plus the char/token compression
   * ratio — the "how many tokens will this corpus cost" estimator run
   * before a training job. Merges apply in LEARNED ORDER, each as a
   * greedy left-to-right non-overlapping rewrite (the canonical BPE
   * encode). Per-row imperative scan via a typed map — zero shuffle;
   * the merge table (k rows) ships in the closure like a broadcast
   * variable.
   *
   * @param merges (left, right) pairs in learning order
   * @return input columns + n_tokens (long)
   */
  def encode(df: DataFrame, idCol: String, textCol: String,
      merges: Seq[(String, String)]): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val ms = merges.toArray
    df.select(col(idCol).cast(LongType).as("id"), col(textCol).as("text"))
      .as[(Long, String)]
      .map { case (id, text) =>
        var total = 0L
        text.split(" ").foreach { w =>
          if (w.nonEmpty) {
            var syms: Array[String] = w.map(_.toString).toArray
            ms.foreach { case (l, r) =>
              if (syms.length >= 2) {
                val out = scala.collection.mutable.ArrayBuffer.empty[String]
                var i = 0
                while (i < syms.length) {
                  if (i + 1 < syms.length && syms(i) == l && syms(i + 1) == r) {
                    out += l + r; i += 2
                  } else { out += syms(i); i += 1 }
                }
                syms = out.toArray
              }
            }
            total += syms.length
          }
        }
        (id, total)
      }
      .toDF(idCol, "n_tokens")
  }
}
