package graft.functions

import java.security.MessageDigest

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/**
 * Compiled text-hashing kernels as custom Catalyst expressions.
 *
 * The declarative formulations (`transform`/`aggregate` higher-order
 * functions over md5) are semantically identical but run INTERPRETED —
 * one Expression-tree walk per array element. At sf0.1 that made MinHash
 * signatures (~27 s) and SimHash (~10 s) the bench bottleneck. These
 * expressions do the whole tokenize → shingle → hash → fold loop in
 * straight JVM code, one eval per row.
 *
 * OUTPUT PARITY IS CONTRACTUAL: each expression produces bit-identical
 * results to the declarative version and to the DuckDB oracle SQL
 * (`LlmQueries.q31Sql`/`q32Sql`) — same tokenization (`\s+` split), same
 * lowercase-hex md5, same seeded-splitmix64 MinHash family
 * (`MinhashSql`), same lexicographic min.
 */
private[graft] object TextHash {
  def md5hex(s: String): String = {
    val d = MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8"))
    val sb = new java.lang.StringBuilder(32)
    var i = 0
    while (i < d.length) {
      sb.append(Character.forDigit((d(i) >> 4) & 0xF, 16))
      sb.append(Character.forDigit(d(i) & 0xF, 16))
      i += 1
    }
    sb.toString
  }

  /** First 8 bytes of md5(s), big-endian — the unsigned 64-bit value of
    * the digest's first 16 hex chars (the oracle parses exactly those). */
  def md5u64(s: String): Long = {
    val d = MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8"))
    var h = 0L
    var i = 0
    while (i < 8) { h = (h << 8) | (d(i) & 0xFFL); i += 1 }
    h
  }

  def shingles(text: String, n: Int): Array[String] = {
    val toks = text.split("\\s+", -1)
    val count = toks.length - n + 1
    if (count <= 0) return Array.empty
    val out = new Array[String](count)
    var i = 0
    while (i < count) {
      val sb = new java.lang.StringBuilder()
      var j = 0
      while (j < n) {
        if (j > 0) sb.append(' ')
        sb.append(toks(i + j))
        j += 1
      }
      out(i) = sb.toString
      i += 1
    }
    out
  }
}

/**
 * `struct(shingles: array<string>, sig: array<string>)` — word n-gram
 * shingles plus the k-component seeded-splitmix64 MinHash signature,
 * one pass. `sig` is null when the text has fewer than `n` tokens.
 *
 * Signature family (round 16 — replaces the rotation-of-one-md5 family
 * whose mid-range correlation q260's calibration exposed): component j
 * is `min over shingles of splitmix64(md5u64(shingle) XOR j·GOLDEN)`,
 * rendered as a 20-char zero-padded unsigned decimal so lexicographic
 * min equals unsigned-numeric min and the signature stays
 * `array<string>` for band keys and SQL oracles ([[graft.queries.MinhashSql]]
 * generates the byte-identical DuckDB replay). k independent seeded
 * permutations make the equal-component count an unbiased Jaccard
 * estimator, which the 1−(1−s^r)^b banding recall math requires.
 */
case class ShingleMinhashExpression(child: Expression, k: Int = 9, n: Int = 3)
    extends UnaryExpression {

  override def dataType: DataType = StructType(Seq(
    StructField("shingles", ArrayType(StringType), nullable = false),
    StructField("sig", ArrayType(StringType), nullable = true)))

  override def nullSafeEval(input: Any): Any =
    ShingleMinhashExpression.compute(input.asInstanceOf[UTF8String], k, n)

  /** Real codegen (the MultiNgrams/TermCounts static-invoke pattern):
    * this was the LAST CodegenFallback kernel with a large bench
    * footprint — 15 call sites across the shingle family (q31/q33/
    * q134/q232/q233/q255/q256). Inlining as a static call keeps the
    * enclosing whole-stage span intact instead of breaking at an
    * interpreted Expression walk. */
  override protected def doGenCode(
      ctx: org.apache.spark.sql.catalyst.expressions.codegen.CodegenContext,
      ev: org.apache.spark.sql.catalyst.expressions.codegen.ExprCode)
      : org.apache.spark.sql.catalyst.expressions.codegen.ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"graft.functions.ShingleMinhashExpression.compute($c, $k, $n)")

  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
  override def prettyName: String = "shingle_minhash"
}

object ShingleMinhashExpression {

  /** GOLDEN ratio increment — seed j is j·GOLDEN (the repo-wide seeded
    * draw convention: StreamingBloom, BloomExpressions). */
  private val Golden = 0x9E3779B97F4A7C15L

  /** tokenize → shingle → md5u64 → k seeded splitmix64 min folds, one
    * pass; shared by the interpreted eval and the generated code
    * (parity by construction). */
  def compute(input: UTF8String, k: Int, n: Int): InternalRow = {
    val sh = TextHash.shingles(input.toString, n)
    val shArr: ArrayData =
      new GenericArrayData(sh.map(s => UTF8String.fromString(s): Any))
    if (sh.isEmpty) {
      InternalRow(shArr, null)
    } else {
      val hv = new Array[Long](sh.length)
      var i = 0
      while (i < hv.length) { hv(i) = TextHash.md5u64(sh(i)); i += 1 }
      val sig = new Array[Any](k)
      var j = 0
      while (j < k) {
        val seed = j.toLong * Golden
        var min = HllAggregate.mix64(hv(0) ^ seed)
        i = 1
        while (i < hv.length) {
          val m = HllAggregate.mix64(hv(i) ^ seed)
          if (java.lang.Long.compareUnsigned(m, min) < 0) min = m
          i += 1
        }
        sig(j) = UTF8String.fromString(pad20(min))
        j += 1
      }
      InternalRow(shArr, new GenericArrayData(sig))
    }
  }

  /** Unsigned decimal, zero-padded to 20 chars (max u64 is 20 digits)
    * so lexicographic order equals unsigned-numeric order. */
  private def pad20(v: Long): String = {
    val s = java.lang.Long.toUnsignedString(v)
    if (s.length == 20) s
    else {
      val sb = new java.lang.StringBuilder(20)
      var i = s.length
      while (i < 20) { sb.append('0'); i += 1 }
      sb.append(s).toString
    }
  }
}

/**
 * 64-char SimHash bitstring: per token, md5 hex chars supply 4 bits each
 * (bit j of char j/4); sum ±1 across tokens; '1' where the sum is
 * positive. Identical to `Dedup.simhashBits`'s declarative form and the
 * q32 oracle.
 */
case class SimhashExpression(child: Expression)
    extends UnaryExpression {

  override def dataType: DataType = StringType

  override def nullSafeEval(input: Any): Any =
    SimhashExpression.compute(input.asInstanceOf[UTF8String])

  /** Real codegen (round 15 — the static-invoke pattern of the other
    * text kernels): keeps q32/q124's scans inside whole-stage spans. */
  override protected def doGenCode(
      ctx: org.apache.spark.sql.catalyst.expressions.codegen.CodegenContext,
      ev: org.apache.spark.sql.catalyst.expressions.codegen.ExprCode)
      : org.apache.spark.sql.catalyst.expressions.codegen.ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"graft.functions.SimhashExpression.compute($c)")

  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
  override def prettyName: String = "simhash"
}

object SimhashExpression {

  /** Shared by the interpreted eval and the generated code. */
  def compute(input: UTF8String): UTF8String = {
    val toks = input.toString.split("\\s+", -1)
    val sums = new Array[Int](64)
    var t = 0
    while (t < toks.length) {
      val h = TextHash.md5hex(toks(t))
      var j = 0
      while (j < 64) {
        val v = Character.digit(h.charAt(j / 4), 16)
        val bit = (v >> (j % 4)) & 1
        sums(j) += (if (bit == 1) 1 else -1)
        j += 1
      }
      t += 1
    }
    val sb = new java.lang.StringBuilder(64)
    var j = 0
    while (j < 64) { sb.append(if (sums(j) > 0) '1' else '0'); j += 1 }
    UTF8String.fromString(sb.toString)
  }
}

/**
 * Min-MD5 fingerprint over character n-gram shingles (winnowing-lite),
 * identical to `TextAnalysis.fingerprint`'s declarative form and the q39
 * oracle: min over i ∈ [1, max(len−n+1, 1)] of md5(substr(text, i, n)).
 */
case class FingerprintExpression(child: Expression, n: Int = 8)
    extends UnaryExpression {

  override def dataType: DataType = StringType

  override def nullSafeEval(input: Any): Any =
    FingerprintExpression.compute(input.asInstanceOf[UTF8String], n)

  /** Real codegen (round 15, static-invoke pattern). */
  override protected def doGenCode(
      ctx: org.apache.spark.sql.catalyst.expressions.codegen.CodegenContext,
      ev: org.apache.spark.sql.catalyst.expressions.codegen.ExprCode)
      : org.apache.spark.sql.catalyst.expressions.codegen.ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"graft.functions.FingerprintExpression.compute($c, $n)")

  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
  override def prettyName: String = "min_shingle_fingerprint"
}

object FingerprintExpression {

  /** Shared by the interpreted eval and the generated code. */
  def compute(input: UTF8String, n: Int): UTF8String = {
    val s = input.toString
    val count = math.max(s.length - n + 1, 1)
    var min: String = null
    var i = 0
    while (i < count) {
      val h = TextHash.md5hex(s.substring(i, math.min(i + n, s.length)))
      if (min == null || h.compareTo(min) < 0) min = h
      i += 1
    }
    UTF8String.fromString(min)
  }
}

/**
 * Count of the doc's most frequent whitespace token — the Gopher
 * "fraction of the document that is the single most common word" signal
 * (Rae et al. 2021, appendix A1.1), as a per-row compiled kernel:
 * ZERO-shuffle at any corpus size (the explode+groupBy formulation
 * shuffles every word of every doc).
 */
case class TopWordCountExpression(child: Expression)
    extends UnaryExpression {

  override def dataType: DataType = IntegerType

  override def nullSafeEval(input: Any): Any =
    TopWordCountExpression.compute(input.asInstanceOf[UTF8String])

  /** Real codegen (round 15, static-invoke pattern). */
  override protected def doGenCode(
      ctx: org.apache.spark.sql.catalyst.expressions.codegen.CodegenContext,
      ev: org.apache.spark.sql.catalyst.expressions.codegen.ExprCode)
      : org.apache.spark.sql.catalyst.expressions.codegen.ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"graft.functions.TopWordCountExpression.compute($c)")

  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
  override def prettyName: String = "top_word_count"
}

object TopWordCountExpression {

  /** Shared by the interpreted eval and the generated code. */
  def compute(input: UTF8String): Int = {
    val toks = input.toString.split("\\s+", -1)
    val counts = new java.util.HashMap[String, Int](toks.length * 2)
    var best = 0
    var t = 0
    while (t < toks.length) {
      val tok = toks(t)
      if (tok.nonEmpty) {
        val c = counts.merge(tok, 1, (a, b) => a + b)
        if (c > best) best = c
      }
      t += 1
    }
    best
  }
}

/**
 * Shannon entropy (bits) of the doc's token distribution — the
 * "gibberish vs natural text" curation signal (low entropy = repeated
 * boilerplate, high = random noise). Per-row compiled kernel, zero
 * shuffle; the explode+groupBy(doc,word) formulation shuffles every
 * token of every document.
 *
 * Parity: tokenization is a single-space split with empties dropped
 * (matching the oracle's `string_split(text, ' ') ... WHERE w <> ''`),
 * and the float expression is the SAME shape both sides —
 * `log2(n) − Σ c·log2(c) / n` — so engines differ by at most an ulp;
 * callers round (6 dp) as with every float-emitting query.
 */
case class WordEntropyExpression(child: Expression)
    extends UnaryExpression {

  override def dataType: DataType = DoubleType

  override def nullSafeEval(input: Any): Any =
    WordEntropyExpression.compute(input.asInstanceOf[UTF8String])

  /** Real codegen (round 15, static-invoke pattern). */
  override protected def doGenCode(
      ctx: org.apache.spark.sql.catalyst.expressions.codegen.CodegenContext,
      ev: org.apache.spark.sql.catalyst.expressions.codegen.ExprCode)
      : org.apache.spark.sql.catalyst.expressions.codegen.ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"graft.functions.WordEntropyExpression.compute($c)")

  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
  override def prettyName: String = "word_entropy"
}

object WordEntropyExpression {

  /** Shared by the interpreted eval and the generated code. The
    * HashMap iteration order feeds a float sum, but addends are
    * c·log₂c over EXACT counts and iteration order is deterministic
    * for a given insertion sequence, so one text always produces one
    * value; callers round (6 dp) against the oracle. */
  def compute(input: UTF8String): Double = {
    val toks = input.toString.split(" ", -1)
    val counts = new java.util.HashMap[String, Int](toks.length * 2)
    var n = 0
    var t = 0
    while (t < toks.length) {
      val tok = toks(t)
      if (tok.nonEmpty) { counts.merge(tok, 1, (a, b) => a + b); n += 1 }
      t += 1
    }
    if (n == 0) return 0.0
    val ln2 = math.log(2.0)
    var acc = 0.0
    val it = counts.values().iterator()
    while (it.hasNext) {
      val c = it.next().toDouble
      acc += c * (math.log(c) / ln2)
    }
    math.log(n.toDouble) / ln2 - acc / n
  }
}

/**
 * Overlapping w-word windows (stride 1) over a single-space token split —
 * the exact-substring-dedup unit (q106/q113). `hashed = true` emits the
 * lowercase-hex md5 of each window instead of its text (q106 only ever
 * shuffles digests). One compiled pass per row; the declarative
 * `transform(sequence(...), i -> array_join(slice(...)))` dual walks an
 * interpreted Expression tree per window (measured 2-4 s of the q106/q113
 * bench times at sf0.1).
 *
 * Parity: tokenization matches Spark `split(text, ' ')` (which defaults to
 * limit -1, i.e. trailing empty tokens KEPT) and DuckDB's
 * `string_split(text, ' ')` (also keeps trailing empties); windows are
 * space-rejoined, so output is bit-identical to the declarative
 * `transform(sequence(...))` form and to the oracle on every input,
 * including texts with trailing spaces.
 */
case class RollingWindowsExpression(child: Expression, w: Int, hashed: Boolean)
    extends UnaryExpression {

  override def dataType: DataType = ArrayType(StringType, containsNull = false)

  override def nullSafeEval(input: Any): Any =
    RollingWindowsExpression.compute(input.asInstanceOf[UTF8String], w, hashed)

  /** Real codegen (round 15, static-invoke pattern): q106/q113/q116's
    * window generation stays inside the scan's whole-stage span. */
  override protected def doGenCode(
      ctx: org.apache.spark.sql.catalyst.expressions.codegen.CodegenContext,
      ev: org.apache.spark.sql.catalyst.expressions.codegen.ExprCode)
      : org.apache.spark.sql.catalyst.expressions.codegen.ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"graft.functions.RollingWindowsExpression.compute($c, $w, $hashed)")

  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
  override def prettyName: String = if (hashed) "rolling_window_hashes" else "rolling_windows"
}

object RollingWindowsExpression {

  /** Shared by the interpreted eval and the generated code. */
  def compute(input: UTF8String, w: Int, hashed: Boolean): ArrayData = {
    val toks = input.toString.split(" ", -1)
    val count = toks.length - w + 1
    if (count <= 0) return new GenericArrayData(Array.empty[Any])
    val out = new Array[Any](count)
    var i = 0
    while (i < count) {
      val sb = new java.lang.StringBuilder()
      var j = 0
      while (j < w) {
        if (j > 0) sb.append(' ')
        sb.append(toks(i + j))
        j += 1
      }
      val s = sb.toString
      out(i) = UTF8String.fromString(if (hashed) TextHash.md5hex(s) else s)
      i += 1
    }
    new GenericArrayData(out)
  }
}

/**
 * Word-granularity content-defined chunking (the Rabin/FastCDC idea at
 * token level, q212): a polynomial rolling hash over the last `w` word
 * values cuts a chunk boundary wherever `h % d == 0`, so boundaries
 * depend only on LOCAL content — insert a paragraph and every chunk
 * outside it keeps its digest, which is what makes CDC the byte/token
 * dedup primitive (fixed-size blocks lose alignment after one edit).
 * Emits the md5 digest of each chunk (space-rejoined words); the final
 * word always closes the last chunk.
 *
 * Replay parity (the oracle recomputes every step): words =
 * `split(text, ' ')` keep-empties; word value = first 6 hex digits of
 * its md5 as an integer; h_i = Σ_{j=0..w-1} v_{i-j}·B^j mod M with
 * B = 1000003, M = 1e9+7 — every intermediate fits in int64 on both
 * engines. No min/max chunk clamps: those reintroduce sequential
 * state, and the oracle's stateless per-position replay is the point.
 */
case class CdcChunksExpression(child: Expression, w: Int, d: Int)
    extends UnaryExpression {

  override def dataType: DataType = ArrayType(StringType, containsNull = false)

  override def nullSafeEval(input: Any): Any =
    CdcChunksExpression.compute(input.asInstanceOf[UTF8String], w, d)

  /** Real codegen (round 15, static-invoke pattern). */
  override protected def doGenCode(
      ctx: org.apache.spark.sql.catalyst.expressions.codegen.CodegenContext,
      ev: org.apache.spark.sql.catalyst.expressions.codegen.ExprCode)
      : org.apache.spark.sql.catalyst.expressions.codegen.ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"graft.functions.CdcChunksExpression.compute($c, $w, $d)")

  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
  override def prettyName: String = "cdc_chunks"
}

object CdcChunksExpression {

  private val B = 1000003L
  private val M = 1000000007L

  /** Shared by the interpreted eval and the generated code. The w-entry
    * power table rebuilds per row — negligible next to one md5 per
    * word, and it keeps the kernel a pure static function. */
  def compute(input: UTF8String, w: Int, d: Int): ArrayData = {
    val pow = new Array[Long](w)
    pow(0) = 1L
    var j = 1
    while (j < w) { pow(j) = pow(j - 1) * B % M; j += 1 }
    val toks = input.toString.split(" ", -1)
    val n = toks.length
    val v = new Array[Long](n)
    var i = 0
    while (i < n) {
      v(i) = java.lang.Long.parseLong(TextHash.md5hex(toks(i)).substring(0, 6), 16)
      i += 1
    }
    val out = Seq.newBuilder[Any]
    var start = 0
    i = 0
    while (i < n) {
      val isLast = i == n - 1
      val cut = isLast || (i >= w - 1 && {
        var h = 0L
        var jj = 0
        while (jj < w) { h += v(i - jj) % M * pow(jj) % M; jj += 1 }
        h % M % d == 0
      })
      if (cut) {
        val sb = new java.lang.StringBuilder()
        var k = start
        while (k <= i) {
          if (k > start) sb.append(' ')
          sb.append(toks(k))
          k += 1
        }
        out += UTF8String.fromString(TextHash.md5hex(sb.toString))
        start = i + 1
      }
      i += 1
    }
    new GenericArrayData(out.result().toArray)
  }
}

/**
 * One-pass multi-width n-gram builder (q237): emits every word n-gram
 * for n = 1..maxN as (n, gram) structs from ONE tokenize of the text.
 * The declarative dual — `transform(sequence(...), i -> concat_ws(' ',
 * slice(toks, i, n)))` per width, then flatten — re-slices the token
 * array and re-evaluates the interpreted HOF lambda per position per
 * width; at sf0.1 that made q237 the single heaviest bench query
 * (6.1 s). Parity contract: tokens = split(text, " ", -1) (keep-empty,
 * Spark split/DuckDB string_split semantics), grams joined with a
 * single space, counts = max(len − n + 1, 0) per width — bit-identical
 * gram multisets to the declarative form and the oracle.
 */
case class MultiNgramsExpression(child: Expression, maxN: Int)
    extends UnaryExpression {

  override def dataType: DataType = ArrayType(
    StructType(Seq(StructField("n", IntegerType), StructField("g", StringType))),
    containsNull = false)

  override def nullSafeEval(input: Any): Any =
    MultiNgramsExpression.compute(input.asInstanceOf[UTF8String], maxN)

  /** Real codegen (the JaroWinkler/BloomMightContain pattern): the
    * kernel inlines as a static invoke, so the enclosing
    * whole-stage-codegen span stays intact instead of breaking at a
    * CodegenFallback Expression walk — q237's tally feeds straight
    * from the generated scan loop. */
  override protected def doGenCode(
      ctx: org.apache.spark.sql.catalyst.expressions.codegen.CodegenContext,
      ev: org.apache.spark.sql.catalyst.expressions.codegen.ExprCode)
      : org.apache.spark.sql.catalyst.expressions.codegen.ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"graft.functions.MultiNgramsExpression.compute($c, $maxN)")

  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
  override def prettyName: String = "multi_ngrams"
}

object MultiNgramsExpression {

  /** One tokenize, every n-gram for n = 1..maxN; shared by the
    * interpreted eval and the generated code (parity by construction). */
  def compute(input: UTF8String, maxN: Int): ArrayData = {
    val toks = input.toString.split(" ", -1)
    val len = toks.length
    var total = 0
    var n = 1
    while (n <= maxN) { total += math.max(len - n + 1, 0); n += 1 }
    val out = new Array[Any](total)
    var k = 0
    n = 1
    while (n <= maxN) {
      val count = len - n + 1
      var i = 0
      while (i < count) {
        val sb = new java.lang.StringBuilder()
        var j = 0
        while (j < n) {
          if (j > 0) sb.append(' ')
          sb.append(toks(i + j))
          j += 1
        }
        out(k) = InternalRow(n, UTF8String.fromString(sb.toString))
        k += 1
        i += 1
      }
      n += 1
    }
    new GenericArrayData(out)
  }
}

/**
 * Row-local term-frequency kernel (q235): one tokenize of the text
 * into the distinct non-empty terms with their per-document counts,
 * as (t, c) structs. A document is one row, so per-doc tf needs no
 * exchange at all — the round-13 formulation (`explode → groupBy
 * (doc_id, term)`) shuffled the ENTIRE token stream with a no-op
 * map-side combine because (doc_id, term) keys are unique to one
 * partition. Emitting (term, c) pairs row-locally means the ONLY
 * exchange downstream is the term rollup, where combine is effective:
 * each partition sends at most its distinct terms, not its tokens.
 * Parity contract: terms = split(text, ' ') minus empty tokens
 * (matching `WHERE t <> ''`), counts exact, order unspecified
 * (consumers aggregate).
 */
case class TermCountsExpression(child: Expression)
    extends UnaryExpression {

  override def dataType: DataType = ArrayType(
    StructType(Seq(StructField("t", StringType), StructField("c", LongType))),
    containsNull = false)

  override def nullSafeEval(input: Any): Any =
    TermCountsExpression.compute(input.asInstanceOf[UTF8String])

  /** Real codegen: static invoke inside the whole-stage span. */
  override protected def doGenCode(
      ctx: org.apache.spark.sql.catalyst.expressions.codegen.CodegenContext,
      ev: org.apache.spark.sql.catalyst.expressions.codegen.ExprCode)
      : org.apache.spark.sql.catalyst.expressions.codegen.ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"graft.functions.TermCountsExpression.compute($c)")

  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
  override def prettyName: String = "term_counts"
}

object TermCountsExpression {

  /** One tokenize + open hash tally; shared by the interpreted eval
    * and the generated code (parity by construction). */
  def compute(input: UTF8String): ArrayData = {
    val toks = input.toString.split(" ", -1)
    val m = new java.util.LinkedHashMap[String, java.lang.Long](
      math.max(16, toks.length), 0.75f)
    var i = 0
    while (i < toks.length) {
      val t = toks(i)
      if (t.nonEmpty) {
        val prev = m.get(t)
        m.put(t, if (prev == null) 1L else prev.longValue + 1L)
      }
      i += 1
    }
    val out = new Array[Any](m.size)
    val it = m.entrySet().iterator()
    var k = 0
    while (it.hasNext) {
      val e = it.next()
      out(k) = InternalRow(UTF8String.fromString(e.getKey), e.getValue.longValue)
      k += 1
    }
    new GenericArrayData(out)
  }
}

/**
 * One-pass readability counts (q234): words, sentence marks, and
 * syllables from a SINGLE character scan. Parity contract with the
 * declarative form and the DuckDB oracle:
 *   words     = length of split(text, " ", -1)   (keep-empty),
 *   sentences = max(1, count of [.!?] characters),
 *   syllables = Σ per token max(1, maximal [aeiouy]+ runs of the
 *               lowercased token)  — empty tokens floor to 1 exactly
 *               like greatest(1, regexp_extract_all(...)).
 * The declarative dual lowercases + regexp-extracts per token through
 * interpreted HOFs (three passes over the text); this walks the chars
 * once. Vowel classification follows the ORACLE's `lower()` (DuckDB/
 * utf8proc SIMPLE per-codepoint mapping): the ASCII set [aeiouyAEIOUY]
 * plus U+0130 'İ', the one non-ASCII codepoint whose simple lowercase
 * lands in [aeiouy] (utf8proc: İ → 'i'; verified live — Java's FULL
 * mapping İ → "i̇" differs, which is why the kernel pins the
 * mapping itself instead of calling any toLowerCase).
 */
case class ReadabilityCountsExpression(child: Expression)
    extends UnaryExpression {

  override def dataType: DataType = StructType(Seq(
    StructField("w", LongType), StructField("s", LongType),
    StructField("syl", LongType)))

  override def nullSafeEval(input: Any): Any =
    ReadabilityCountsExpression.compute(input.asInstanceOf[UTF8String])

  /** Real codegen: static invoke inside the whole-stage span (the
    * JaroWinkler pattern), replacing the round-13 CodegenFallback. */
  override protected def doGenCode(
      ctx: org.apache.spark.sql.catalyst.expressions.codegen.CodegenContext,
      ev: org.apache.spark.sql.catalyst.expressions.codegen.ExprCode)
      : org.apache.spark.sql.catalyst.expressions.codegen.ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"graft.functions.ReadabilityCountsExpression.compute($c)")

  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
  override def prettyName: String = "readability_counts"
}

object ReadabilityCountsExpression {

  // explicit membership — no case-conversion call at all
  // (LocaleSafetySpec's gate), identical to the oracle's simple-mapping
  // lower() for every codepoint whose lowercase can reach [aeiouy]:
  // the ASCII both-case set and U+0130 (the only such non-ASCII char)
  private def isVowel(c: Char): Boolean = (c: @annotation.switch) match {
    case 'a' | 'e' | 'i' | 'o' | 'u' | 'y' |
         'A' | 'E' | 'I' | 'O' | 'U' | 'Y' | 'İ' => true
    case _ => false
  }

  /** One character scan; shared by the interpreted eval and the
    * generated code (parity by construction). */
  def compute(input: UTF8String): InternalRow = {
    val t = input.toString
    var words = 1L
    var sents = 0L
    var syl = 0L
    var runsInTok = 0L
    var inRun = false
    var i = 0
    val len = t.length
    while (i < len) {
      val c = t.charAt(i)
      if (c == ' ') {
        syl += math.max(1L, runsInTok)
        runsInTok = 0L
        inRun = false
        words += 1L
      } else {
        if (c == '.' || c == '!' || c == '?') sents += 1L
        if (isVowel(c)) {
          if (!inRun) { runsInTok += 1L; inRun = true }
        } else inRun = false
      }
      i += 1
    }
    syl += math.max(1L, runsInTok) // close the final token (also "" -> 1)
    InternalRow(words, math.max(1L, sents), syl)
  }
}

/**
 * One-pass code-switching profile (q247): cuts the text into fixed
 * `w`-token windows, language-IDs each window by marker-hit argmax
 * (ties resolve to the LAST language code in sorted order, 'und' on
 * zero hits — q36's exact rule), drops 'und' windows, and returns
 * struct(n_windows, n_lang_windows, mixed, switches) where mixed =
 * ≥2 distinct remaining languages and switches = adjacent unequal
 * pairs. The declarative dual evaluates the whole langId expression
 * tree interpreted per window inside nested HOFs (6× at the 10×
 * replica); this walks tokens once with hash-set membership. Parity
 * contract: tokens = split(text, " ", -1) keep-empty; window count =
 * ceil(len/w) ≥ 1.
 */
case class CodeSwitchExpression(
    child: Expression, w: Int, markers: Seq[(String, Seq[String])])
    extends UnaryExpression {

  override def dataType: DataType = StructType(Seq(
    StructField("n_windows", LongType), StructField("n_lang_windows", LongType),
    StructField("mixed", BooleanType), StructField("switches", LongType)))

  // sorted ascending so "last wins ties" is a simple >= sweep
  private val langs: Array[(String, Set[String])] =
    markers.sortBy(_._1).map { case (l, ms) => (l, ms.toSet) }.toArray

  override def nullSafeEval(input: Any): Any =
    compute(input.asInstanceOf[UTF8String])

  /** Real codegen: the marker tables ride into the generated class as
    * a reference object (ctx.addReferenceObj — they're per-instance
    * state, unlike the static kernels above), and the window loop runs
    * as one virtual call inside the whole-stage span. */
  override protected def doGenCode(
      ctx: org.apache.spark.sql.catalyst.expressions.codegen.CodegenContext,
      ev: org.apache.spark.sql.catalyst.expressions.codegen.ExprCode)
      : org.apache.spark.sql.catalyst.expressions.codegen.ExprCode = {
    val ref = ctx.addReferenceObj("codeSwitch", this,
      classOf[CodeSwitchExpression].getName)
    defineCodeGen(ctx, ev, c => s"$ref.compute($c)")
  }

  /** One token walk; shared by the interpreted eval and the generated
    * code (parity by construction). */
  def compute(input: UTF8String): InternalRow = {
    val toks = input.toString.split(" ", -1)
    val nWin = (toks.length + w - 1) / w
    var prev: String = null
    var nLang = 0L
    var switches = 0L
    var firstLang: String = null
    var mixed = false
    val hits = new Array[Int](langs.length)
    var b = 0
    while (b < nWin) {
      java.util.Arrays.fill(hits, 0)
      var i = b * w
      val end = math.min(i + w, toks.length)
      while (i < end) {
        var l = 0
        while (l < langs.length) {
          if (langs(l)._2.contains(toks(i))) hits(l) += 1
          l += 1
        }
        i += 1
      }
      // argmax, ties to the LAST (highest-index = lexicographically
      // last) language; 'und' (skip) when the best count is zero
      var best = -1
      var bestHits = 0
      var l = 0
      while (l < langs.length) {
        if (hits(l) > 0 && hits(l) >= bestHits) { best = l; bestHits = hits(l) }
        l += 1
      }
      if (best >= 0) {
        val lang = langs(best)._1
        nLang += 1L
        if (prev != null && prev != lang) switches += 1L
        if (firstLang == null) firstLang = lang
        else if (lang != firstLang) mixed = true
        prev = lang
      }
      b += 1
    }
    InternalRow(nWin.toLong, nLang, mixed, switches)
  }

  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
  override def prettyName: String = "code_switch_profile"
}

/**
 * First 8 bytes of md5(text), big-endian, as a SIGNED long — the
 * string→64-bit bridge the seeded MinHash family and the KMV sketch
 * share (`TextHash.md5u64`; the oracle parses the digest's first 16 hex
 * chars and recenters the unsigned value into signed range, so both
 * engines order values identically).
 */
case class Md5U64Expression(child: Expression) extends UnaryExpression {

  override def dataType: DataType = LongType

  override def nullSafeEval(input: Any): Any =
    TextHash.md5u64(input.asInstanceOf[UTF8String].toString)

  /** Real codegen (static-invoke pattern). */
  override protected def doGenCode(
      ctx: org.apache.spark.sql.catalyst.expressions.codegen.CodegenContext,
      ev: org.apache.spark.sql.catalyst.expressions.codegen.ExprCode)
      : org.apache.spark.sql.catalyst.expressions.codegen.ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"graft.functions.TextHash.md5u64($c.toString())")

  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
  override def prettyName: String = "md5_u64"
}

object TextHashFunctions {
  import org.apache.spark.sql.GraftBridge

  def shingleMinhash(text: Column, k: Int = 9, n: Int = 3): Column =
    GraftBridge.column(ShingleMinhashExpression(GraftBridge.expression(text), k, n))

  def md5U64(text: Column): Column =
    GraftBridge.column(Md5U64Expression(GraftBridge.expression(text)))

  def simhash(text: Column): Column =
    GraftBridge.column(SimhashExpression(GraftBridge.expression(text)))

  def fingerprint(text: Column, n: Int = 8): Column =
    GraftBridge.column(FingerprintExpression(GraftBridge.expression(text), n))

  def topWordCount(text: Column): Column =
    GraftBridge.column(TopWordCountExpression(GraftBridge.expression(text)))

  def wordEntropy(text: Column): Column =
    GraftBridge.column(WordEntropyExpression(GraftBridge.expression(text)))

  def rollingWindows(text: Column, w: Int = 8): Column =
    GraftBridge.column(RollingWindowsExpression(GraftBridge.expression(text), w, hashed = false))

  def rollingWindowHashes(text: Column, w: Int = 8): Column =
    GraftBridge.column(RollingWindowsExpression(GraftBridge.expression(text), w, hashed = true))

  def cdcChunks(text: Column, w: Int = 4, d: Int = 32): Column =
    GraftBridge.column(CdcChunksExpression(GraftBridge.expression(text), w, d))

  def multiNgrams(text: Column, maxN: Int = 3): Column =
    GraftBridge.column(MultiNgramsExpression(GraftBridge.expression(text), maxN))

  def termCounts(text: Column): Column =
    GraftBridge.column(TermCountsExpression(GraftBridge.expression(text)))

  def readabilityCounts(text: Column): Column =
    GraftBridge.column(ReadabilityCountsExpression(GraftBridge.expression(text)))

  def codeSwitchProfile(text: Column, w: Int,
      markers: Seq[(String, Seq[String])]): Column =
    GraftBridge.column(
      CodeSwitchExpression(GraftBridge.expression(text), w, markers))
}
