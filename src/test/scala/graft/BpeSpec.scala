package graft

import org.apache.spark.sql.functions._

import graft.operators.Bpe

/**
 * Pins the distributed BPE merge learner to a sequential reference
 * implementation (the textbook algorithm run single-threaded on the
 * driver): same word tally, same pair counts, same (count DESC, pair
 * ASC) argmax, same greedy left-to-right non-overlapping rewrite.
 */
class BpeSpec extends SparkTestBase {
  import spark.implicits._

  /** Sequential reference: learn k merges from (word → count). */
  private def referenceMerges(
      words: Map[String, Long], k: Int): Seq[(Int, String, String, String, Long)] = {
    var vocab: Map[Seq[String], Long] =
      words.groupMapReduce { case (w, _) =>
        w.map(_.toString).toSeq: Seq[String] } { case (_, c) => c }(_ + _)
    val out = Seq.newBuilder[(Int, String, String, String, Long)]
    for (step <- 1 to k) {
      val pairs = scala.collection.mutable.Map.empty[(String, String), Long]
      vocab.foreach { case (syms, cnt) =>
        syms.indices.dropRight(1).foreach { i =>
          val p = (syms(i), syms(i + 1))
          pairs(p) = pairs.getOrElse(p, 0L) + cnt
        }
      }
      if (pairs.nonEmpty) {
        val ((l, r), c) = pairs.toSeq.minBy { case ((l, r), c) => (-c, l, r) }
        out += ((step, l, r, l + r, c))
        vocab = vocab.groupMapReduce { case (syms, _) =>
          val m = Seq.newBuilder[String]
          var i = 0
          while (i < syms.length) {
            if (i + 1 < syms.length && syms(i) == l && syms(i + 1) == r) {
              m += l + r; i += 2
            } else { m += syms(i); i += 1 }
          }
          m.result()
        } { case (_, c) => c }(_ + _)
      }
    }
    out.result()
  }

  private def wordTally(texts: Seq[String]): Map[String, Long] =
    texts.flatMap(_.split(" ")).filter(_.nonEmpty)
      .groupMapReduce(identity)(_ => 1L)(_ + _)

  test("learnMerges matches the sequential reference on a handcrafted corpus") {
    // 'ab' dominant, then overlapping candidates (aa in 'aaa' counts once
    // per non-overlapping scan), single-char words carry no pairs.
    val texts = Seq(
      "abab abc a b",
      "aaa abab ab",
      "xyz ab abc aaa")
    val df = texts.toDF("text")
    val got = Bpe.learnMerges(df, "text", 4)
      .as[(Int, String, String, String, Long)].collect().sortBy(_._1).toSeq
    val want = referenceMerges(wordTally(texts), 4)
    assert(got == want)
  }

  test("learnMerges matches the sequential reference on sf0.001 documents") {
    val docs = graft.sources.Tables.documents(spark, sf()).select(col("text"))
    val got = Bpe.learnMerges(docs, "text", 5)
      .as[(Int, String, String, String, Long)].collect().sortBy(_._1).toSeq
    val want = referenceMerges(
      wordTally(docs.as[String].collect().toSeq), 5)
    assert(got == want)
  }

  /** Sequential reference encoder: token count of one word. */
  private def refEncode(w: String, merges: Seq[(String, String)]): Int = {
    var syms: Seq[String] = w.map(_.toString).toSeq
    merges.foreach { case (l, r) =>
      val out = Seq.newBuilder[String]
      var i = 0
      while (i < syms.length) {
        if (i + 1 < syms.length && syms(i) == l && syms(i + 1) == r) {
          out += l + r; i += 2
        } else { out += syms(i); i += 1 }
      }
      syms = out.result()
    }
    syms.length
  }

  test("encode applies learned merges in order; counts match the reference") {
    val docs = graft.sources.Tables.documents(spark, sf())
      .select(col("doc_id"), col("text")).limit(50).cache()
    val merges = Bpe.learnMerges(docs, "text", 5)
      .as[(Int, String, String, String, Long)].collect().sortBy(_._1)
      .map(m => (m._2, m._3)).toSeq
    val got = Bpe.encode(docs, "doc_id", "text", merges)
      .as[(Long, Long)].collect().toMap
    val want = docs.as[(Long, String)].collect().map { case (id, t) =>
      id -> t.split(" ").filter(_.nonEmpty).map(refEncode(_, merges).toLong).sum
    }.toMap
    assert(got == want)
    // merges compress: token count strictly below char count overall
    val chars = docs.as[(Long, String)].collect()
      .map(_._2.split(" ").filter(_.nonEmpty).map(_.length.toLong).sum).sum
    assert(got.values.sum < chars)
  }

  test("merge rewrite is greedy non-overlapping (aaa + merge(a,a) -> [aa, a])") {
    // "aaa" ×3: STATISTICS count overlapping occurrences ((a,a) twice
    // per word → 6, Sennrich's get_stats), but the REWRITE is greedy
    // non-overlapping, so each word becomes [aa, a] — and the next
    // merge is (aa, a) with count 3.
    val df = Seq("aaa aaa aaa").toDF("text")
    val got = Bpe.learnMerges(df, "text", 2)
      .as[(Int, String, String, String, Long)].collect().sortBy(_._1).toSeq
    assert(got == Seq((1, "a", "a", "aa", 6L), (2, "aa", "a", "aaa", 3L)))
  }

  test("batched learnMerges equals the sequential reference at k=200 in far fewer rounds") {
    // A vocabulary-scale run: the batching (top-W window, disjoint
    // prefix, conflict-count trim) must stay BYTE-IDENTICAL to the
    // one-merge-per-job algorithm while collapsing the round count.
    val rnd = new scala.util.Random(42)
    val texts = (1 to 800).map { _ =>
      (1 to 8).map(_ =>
        (1 to (2 + rnd.nextInt(9))).map(_ => ('a' + rnd.nextInt(14)).toChar).mkString
      ).mkString(" ")
    }
    val df = texts.toDF("text")
    val (gotDf, rounds) = Bpe.learnMergesWithRounds(df, "text", 200)
    val got = gotDf.as[(Int, String, String, String, Long)].collect().sortBy(_._1).toSeq
    val want = referenceMerges(wordTally(texts), 200)
    assert(got == want)
    assert(got.size == 200)
    assert(rounds * 2 < 200, s"batching ineffective: $rounds rounds for 200 merges")
  }

  test("window=1 degrades to the sequential algorithm with identical output") {
    val texts = Seq("abab abc a b", "aaa abab ab", "xyz ab abc aaa")
    val df = texts.toDF("text")
    val got = Bpe.learnMergesWithRounds(df, "text", 4, window = 1)._1
      .as[(Int, String, String, String, Long)].collect().sortBy(_._1).toSeq
    assert(got == referenceMerges(wordTally(texts), 4))
  }
}
