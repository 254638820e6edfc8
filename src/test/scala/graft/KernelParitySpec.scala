package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

import graft.functions.TextHashFunctions

/**
 * Pins the round-13 compiled text kernels to their declarative duals
 * on adversarial random texts — the parity the q234/q237 oracles
 * assert only on the synthetic corpus. Edge cases the generator
 * forces: empty text, leading/trailing/double spaces (split keeps
 * empty tokens), vowel-free tokens (syllable floor 1), punctuation
 * runs, single-token texts shorter than the widest n-gram.
 */
class KernelParitySpec extends SparkTestBase {
  import spark.implicits._

  private val word = Gen.oneOf(
    Gen.stringOfN(3, Gen.alphaLowerChar),
    Gen.oneOf("xyz", "rhythm", "a", "Y.!?", "...", "AEIOU", "bcdfg", ""),
    Gen.stringOfN(5, Gen.oneOf('a', 'b', '.', '!', '?', 'e', 'y', 'Z')))
  private val text = Gen.choose(0, 9)
    .flatMap(n => Gen.listOfN(n, word).map(_.mkString(" ")))
    .flatMap(t => Gen.oneOf(t, " " + t, t + " ", t.replace(" ", "  ")))

  private def samples(n: Int): Seq[String] =
    (0 until n).map(i => text.pureApply(Gen.Parameters.default, Seed(i.toLong)))

  test("MultiNgramsExpression equals the declarative slice/concat_ws form") {
    val df = samples(200).toDF("text")
    val toks = split(col("text"), " ")
    def declGrams(n: Int) = {
      val arr = when(size(toks) >= n,
        transform(sequence(lit(1), size(toks) - lit(n - 1)),
          i => concat_ws(" ", slice(toks, i, lit(n)))))
        .otherwise(array().cast(ArrayType(StringType)))
      transform(arr, g => struct(lit(n).as("n"), g.as("g")))
    }
    val rows = df.select(
      TextHashFunctions.multiNgrams(col("text"), 3).as("kern"),
      flatten(array(declGrams(1), declGrams(2), declGrams(3))).as("decl"))
      .collect()
    rows.foreach { r =>
      val k = r.getSeq[org.apache.spark.sql.Row](0)
        .map(x => (x.getInt(0), x.getString(1))).sorted
      val d = r.getSeq[org.apache.spark.sql.Row](1)
        .map(x => (x.getInt(0), x.getString(1))).sorted
      assert(k == d)
    }
  }

  test("CodeSwitchExpression equals the declarative window/langId form") {
    import graft.operators.TextAnalysis
    import graft.queries.LlmQueries.Markers
    // marker-dense generator so windows actually flip languages
    val markerWord = Gen.oneOf(Markers.flatMap(_._2) ++ Seq("noise", "zz", ""))
    val mixedText = Gen.choose(0, 90)
      .flatMap(n => Gen.listOfN(n, markerWord).map(_.mkString(" ")))
    val texts = (0 until 200).map(i =>
      mixedText.pureApply(Gen.Parameters.default, Seed(1000L + i)))
    val df = texts.toDF("text")
    val W = 20
    val toks = split(col("text"), " ")
    val nWin = expr(s"(size(split(text, ' ')) + ${W - 1}) div $W")
    val windows = transform(sequence(lit(0L), nWin - lit(1L)),
      i => concat_ws(" ", slice(toks, (i * W + 1).cast(IntegerType), lit(W))))
    val langs = filter(
      transform(windows, w => TextAnalysis.langId(w, Markers)),
      l => l =!= "und")
    val nl = size(langs)
    val declSw = when(nl >= 2,
      aggregate(
        zip_with(slice(langs, lit(1), nl - 1), slice(langs, lit(2), nl - 1),
          (a, b) => when(a =!= b, 1L).otherwise(0L)),
        lit(0L), (acc, x) => acc + x)).otherwise(lit(0L))
    val k = graft.functions.TextHashFunctions.codeSwitchProfile(col("text"), W, Markers)
    val bad = df.select(col("text"),
      k.getField("n_windows").as("kw"), size(windows).cast("long").as("dw"),
      k.getField("n_lang_windows").as("kl"), nl.cast("long").as("dl"),
      k.getField("mixed").as("km"), (size(array_distinct(langs)) >= 2).as("dm"),
      k.getField("switches").as("ks"), declSw.as("ds"))
      .filter(col("kw") =!= col("dw") || col("kl") =!= col("dl") ||
        col("km") =!= col("dm") || col("ks") =!= col("ds"))
      .collect()
    assert(bad.isEmpty, bad.take(3).mkString("; "))
  }

  test("ReadabilityCountsExpression follows the oracle's simple-mapping " +
      "lower() on U+0130") {
    // DuckDB (utf8proc) lower('İ') = 'i' — a 1-char SIMPLE mapping, so
    // 'İ' behaves as a vowel continuing runs; Java's FULL mapping
    // ("i" + combining dot) would break them. Expected values below are
    // hand-pinned against a live DuckDB run of the q234 oracle
    // expressions on these exact texts.
    val cases = Seq(
      ("aİa bİb İa İ", 4L, 1L, 4L),
      ("Xİ oİo! rhythm.İ", 3L, 2L, 4L))
    val df = cases.map(_._1).toDF("text")
    val r = TextHashFunctions.readabilityCounts(col("text"))
    val got = df.select(r.getField("w"), r.getField("s"), r.getField("syl"))
      .collect().map(x => (x.getLong(0), x.getLong(1), x.getLong(2)))
    assert(got.toSeq == cases.map(c => (c._2, c._3, c._4)))
  }

  test("TermCountsExpression equals the split/filter/groupBy reference") {
    val df = samples(200).toDF("text")
    val rows = df.select(col("text"),
      TextHashFunctions.termCounts(col("text")).as("tc")).collect()
    rows.foreach { r =>
      val expected = r.getString(0).split(" ", -1).filter(_.nonEmpty)
        .groupBy(identity).map { case (t, xs) => (t, xs.length.toLong) }
      val got = r.getSeq[org.apache.spark.sql.Row](1)
        .map(x => (x.getString(0), x.getLong(1))).toMap
      assert(got == expected, s"text='${r.getString(0)}'")
    }
  }

  test("ShingleMinhashExpression interpreted eval equals the codegen path") {
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.unsafe.types.UTF8String
    import graft.functions.ShingleMinhashExpression
    val texts = samples(200)
    // codegen path: the DataFrame collect runs the generated projection
    val viaCodegen = texts.toDF("text")
      .select(col("text"),
        TextHashFunctions.shingleMinhash(col("text"), 9, 3).as("sm"))
      .collect()
      .map(r => r.getString(0) -> {
        val s = r.getStruct(1)
        (s.getSeq[String](0), Option(s.getSeq[String](1)).map(_.toSeq))
      }).toMap
    // interpreted path: direct Literal eval (nullSafeEval)
    texts.foreach { t =>
      val row = ShingleMinhashExpression(Literal(UTF8String.fromString(t)), 9, 3)
        .eval(null).asInstanceOf[org.apache.spark.sql.catalyst.InternalRow]
      val sh = row.getArray(0)
      val shingles = (0 until sh.numElements())
        .map(i => sh.getUTF8String(i).toString)
      val sig = if (row.isNullAt(1)) None
        else {
          val a = row.getArray(1)
          Some((0 until a.numElements()).map(i => a.getUTF8String(i).toString))
        }
      val (csh, csig) = viaCodegen(t)
      assert(shingles == csh && sig.map(_.toSeq) == csig, s"text='$t'")
    }
  }

  test("ShingleMinhashExpression inlines into whole-stage codegen") {
    // a real scan, not a LocalRelation — ConvertToLocalRelation would
    // constant-fold the projection away before any codegen happens
    val df = graft.sources.Tables.documents(spark, "/root/testdata/sf0.001")
      .select(TextHashFunctions.shingleMinhash(col("text"), 9, 3).as("sm"))
      .filter(size(col("sm.shingles")) >= 0)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    val line = plan.linesIterator.find(_.contains("shingle_minhash"))
    assert(line.isDefined, s"kernel not in executed plan:\n$plan")
    assert(line.get.contains("*"),
      s"shingle_minhash fell out of whole-stage codegen:\n$plan")
  }

  test("the six round-15 codegen conversions: interpreted eval equals the codegen path") {
    import org.apache.spark.sql.catalyst.InternalRow
    import org.apache.spark.sql.catalyst.expressions.{Expression, Literal}
    import org.apache.spark.sql.catalyst.util.ArrayData
    import org.apache.spark.unsafe.types.UTF8String
    import graft.functions._
    val texts = samples(150)
    // each kernel: direct Literal eval (interpreted nullSafeEval) vs
    // the DataFrame collect (generated projection); the two call the
    // SAME static compute, so this pins the wiring, not the math
    def arr(a: Any): Seq[String] = {
      val d = a.asInstanceOf[ArrayData]
      (0 until d.numElements()).map(i => d.getUTF8String(i).toString)
    }
    val kernels: Seq[(String, String => Expression,
        org.apache.spark.sql.Column, Any => Any)] = Seq(
      ("simhash", t => SimhashExpression(Literal(UTF8String.fromString(t))),
        TextHashFunctions.simhash(col("text")), a => a.toString),
      ("fingerprint", t => FingerprintExpression(Literal(UTF8String.fromString(t)), 8),
        TextHashFunctions.fingerprint(col("text"), 8), a => a.toString),
      ("top_word_count", t => TopWordCountExpression(Literal(UTF8String.fromString(t))),
        TextHashFunctions.topWordCount(col("text")), identity),
      ("word_entropy", t => WordEntropyExpression(Literal(UTF8String.fromString(t))),
        TextHashFunctions.wordEntropy(col("text")), identity),
      ("rolling_windows", t => RollingWindowsExpression(Literal(UTF8String.fromString(t)), 3, hashed = true),
        TextHashFunctions.rollingWindowHashes(col("text"), 3), arr),
      ("cdc_chunks", t => CdcChunksExpression(Literal(UTF8String.fromString(t)), 4, 32),
        TextHashFunctions.cdcChunks(col("text"), 4, 32), arr))
    kernels.foreach { case (name, interp, colExpr, normalize) =>
      val viaCodegen = texts.toDF("text").select(col("text"), colExpr.as("k"))
        .collect().map(r => r.getString(0) -> r.get(1)).toMap
      texts.foreach { t =>
        val i = normalize(interp(t).eval(InternalRow.empty))
        val c = viaCodegen(t) match {
          case s: Seq[_] => s.map(_.toString)
          case other => other
        }
        assert(i == c, s"$name diverged on text='$t'")
      }
    }
  }

  test("the six round-15 codegen conversions inline into whole-stage codegen") {
    // The parity test above compares Seq.toDF paths, which
    // ConvertToLocalRelation folds with an INTERPRETED projection — a
    // codegen compile error there would silently fall back and pass.
    // This is the shingle_minhash real-scan gate extended to all six:
    // over a parquet scan the kernel's plan line must carry the
    // whole-stage '*' marker, proving the generated code compiled.
    import graft.functions.TextHashFunctions
    val kernels: Seq[(String, org.apache.spark.sql.Column)] = Seq(
      ("simhash", TextHashFunctions.simhash(col("text"))),
      ("min_shingle_fingerprint", TextHashFunctions.fingerprint(col("text"), 8)),
      ("top_word_count", TextHashFunctions.topWordCount(col("text"))),
      ("word_entropy", TextHashFunctions.wordEntropy(col("text"))),
      ("rolling_window_hashes", TextHashFunctions.rollingWindowHashes(col("text"), 3)),
      ("cdc_chunks", TextHashFunctions.cdcChunks(col("text"), 4, 32)))
    kernels.foreach { case (name, kcol) =>
      val df = graft.sources.Tables.documents(spark, "/root/testdata/sf0.001")
        .select(kcol.as("k"))
      df.collect()
      val plan = df.queryExecution.executedPlan.toString
      val line = plan.linesIterator.find(_.contains(name))
      assert(line.isDefined, s"$name not in executed plan:\n$plan")
      assert(line.get.contains("*"),
        s"$name fell out of whole-stage codegen:\n$plan")
    }
  }

  test("the round-16 conversions (lsh_signature, unicode, html_text, md5_u64) inline into whole-stage codegen") {
    import graft.functions.{HtmlFunctions, UnicodeFunctions}
    val docKernels: Seq[(String, org.apache.spark.sql.Column)] = Seq(
      ("unicode_nfc", UnicodeFunctions.nfcNormalize(col("text"))),
      ("html_text", HtmlFunctions.htmlText(col("text"))),
      ("md5_u64", TextHashFunctions.md5U64(col("text"))))
    docKernels.foreach { case (name, kcol) =>
      val df = graft.sources.Tables.documents(spark, "/root/testdata/sf0.001")
        .select(kcol.as("k"))
      df.collect()
      val plan = df.queryExecution.executedPlan.toString
      val line = plan.linesIterator.find(_.contains(name))
      assert(line.isDefined, s"$name not in executed plan:\n$plan")
      assert(line.get.contains("*"),
        s"$name fell out of whole-stage codegen:\n$plan")
    }
    val lsh = graft.sources.Tables.embeddings(spark, "/root/testdata/sf0.001")
      .select(graft.operators.Similarity
        .lshSignature(col("embedding"), 8).as("k"))
    lsh.collect()
    val plan = lsh.queryExecution.executedPlan.toString
    val line = plan.linesIterator.find(_.contains("lsh_signature"))
    assert(line.isDefined, s"lsh_signature not in executed plan:\n$plan")
    assert(line.get.contains("*"),
      s"lsh_signature fell out of whole-stage codegen:\n$plan")
  }

  test("MultiQuerySims codegen keeps the payload kernel inlined and carries the null contract") {
    import org.apache.spark.sql.GraftBridge
    import graft.functions.MultiQuerySimsExpression
    // minimal payload: one query, float anchor only + one width
    val dim = 4
    val qv = Array(1.0, 0.0, 1.0, 0.0)
    val expr = (c: org.apache.spark.sql.Column) => GraftBridge.column(
      MultiQuerySimsExpression(GraftBridge.expression(c),
        Array(7L), Array(Array(qv, qv)), Array(Array(math.sqrt(2), math.sqrt(2))),
        Array(1.0, 1.0, 1.0, 1.0), Array(8)))
    val rows = Seq(
      (1L, Seq[java.lang.Double](1.0, 1.0, 0.0, 0.0)),
      (2L, Seq[java.lang.Double](1.0, null, 0.0, 0.0))) // null element → null entry
    val df = rows.toDF("id", "vec")
      .repartition(2) // defeat ConvertToLocalRelation: force a real exchange scan
      .select(col("id"), expr(col("vec")).as("k"))
    val got = df.collect().map(r => r.getLong(0) -> r.isNullAt(1)).toMap
    assert(!got(1L), "non-null vector must score")
    assert(got(2L), "null vector element must null the row's entry")
    val plan = df.queryExecution.executedPlan.toString
    val line = plan.linesIterator.find(_.contains("multi_query_sims"))
    assert(line.isDefined, s"kernel not in executed plan:\n$plan")
    assert(line.get.contains("*"),
      s"multi_query_sims fell out of whole-stage codegen:\n$plan")
  }

  test("ReadabilityCountsExpression equals the declarative regexp form") {
    val df = samples(200).toDF("text")
    val toks = split(col("text"), " ")
    val declW = size(toks).cast(LongType)
    val declS = greatest(lit(1L),
      length(regexp_replace(col("text"), "[^.!?]", "")).cast(LongType))
    val declSyl = aggregate(
      transform(split(lower(col("text")), " "),
        t => greatest(lit(1), size(regexp_extract_all(t, lit("[aeiouy]+"), lit(0))))
          .cast(LongType)),
      lit(0L), (acc, x) => acc + x)
    val r = TextHashFunctions.readabilityCounts(col("text"))
    val bad = df.select(col("text"),
      r.getField("w").as("kw"), declW.as("dw"),
      r.getField("s").as("ks"), declS.as("ds"),
      r.getField("syl").as("ksyl"), declSyl.as("dsyl"))
      .filter(col("kw") =!= col("dw") || col("ks") =!= col("ds") ||
        col("ksyl") =!= col("dsyl"))
      .collect()
    assert(bad.isEmpty, bad.take(3).mkString("; "))
  }

  // elements chosen so that byte order and UTF-16 order disagree:
  // U+E000 (EE 80 80) sorts below U+1F600 (F0 9F 98 80) by bytes but
  // above its surrogate pair (D83D DE00) by UTF-16 code units
  private val setElem: Gen[String] = Gen.frequency(
    6 -> Gen.oneOf("", "a", "ab", "abc", "abd", "b", "Z", "é", "e\u0301",
      "日本", "日本語", "\uE000", "\uFFFD", "\uD83D\uDE00", "\uD83D\uDE00x",
      "\uD800\uDC00", "a\u0000"),
    3 -> Gen.stringOfN(2, Gen.oneOf('a', 'b', '\u00e9', '\uE000')),
    1 -> Gen.const(null: String))
  private val setArr: Gen[Seq[String]] = Gen.frequency(
    1 -> Gen.const(null: Seq[String]),
    1 -> Gen.const(Seq.empty[String]),
    8 -> Gen.choose(1, 12).flatMap(n => Gen.listOfN(n, setElem)))

  test("sortedOverlap equals size(array_intersect) on sort_array(array_distinct) inputs") {
    import org.apache.spark.sql.catalyst.expressions.Literal
    import graft.functions.{OverlapFunctions, SortedOverlapExpression}
    val fixed = Seq[(Seq[String], Seq[String])](
      (Seq("\uD83D\uDE00", "\uE000"), Seq("\uE000")),
      (Seq("\uD83D\uDE00", "\uE000", "\uFFFD"), Seq("\uFFFD", "\uD83D\uDE00")),
      (Seq("a", "ab", "abc"), Seq("ab", "abd", "abc")),
      (Seq.empty, Seq("a")), (Seq.empty, Seq.empty),
      (null, Seq("a")), (Seq("a", null), Seq(null, "b", "a")))
    val random = (0 until 400).map { i =>
      val p = Gen.Parameters.default
      (setArr.pureApply(p, Seed(2L * i)), setArr.pureApply(p, Seed(2L * i + 1)))
    }
    val pairs = (fixed ++ random).zipWithIndex
      .map { case ((a, b), i) => (i, a, b) }
    val prepared = pairs.toDF("i", "a", "b")
      .repartition(2) // a real exchange scan: no ConvertToLocalRelation fold
      .select(col("i"), sort_array(array_distinct(col("a"))).as("sa"),
        sort_array(array_distinct(col("b"))).as("sb"))
    val df = prepared.select(col("i"), col("sa"), col("sb"),
      OverlapFunctions.sortedOverlap(col("sa"), col("sb")).as("k"),
      when(col("sa").isNotNull && col("sb").isNotNull,
        size(array_intersect(col("sa"), col("sb")))).as("ref"))
    val rows = df.collect()
    assert(rows.length == pairs.size)
    rows.foreach { r =>
      val k = if (r.isNullAt(3)) None else Some(r.getInt(3))
      val ref = if (r.isNullAt(4)) None else Some(r.getInt(4))
      val (sa, sb) = (Option(r.getSeq[String](1)), Option(r.getSeq[String](2)))
      assert(k == ref, s"codegen: sa=$sa sb=$sb")
      // interpreted eval over the same sorted inputs
      val lit = (x: Option[Seq[String]]) =>
        Literal.create(x.orNull, ArrayType(StringType))
      val interp = Option(SortedOverlapExpression(lit(sa), lit(sb)).eval(null))
      assert(interp == ref, s"interpreted: sa=$sa sb=$sb")
    }
    assert(rows.count(_.isNullAt(3)) > 0 && rows.exists(r => !r.isNullAt(3) && r.getInt(3) > 1),
      "the sample must carry null arrays and multi-element overlaps")
    val plan = df.queryExecution.executedPlan.toString
    val line = plan.linesIterator.find(_.contains("sorted_overlap"))
    assert(line.isDefined, s"kernel not in executed plan:\n$plan")
    assert(line.get.contains("*"), s"sorted_overlap fell out of whole-stage codegen:\n$plan")
  }

  test("winnow equals the window-plan fingerprint set (distinct rightmost window minima)") {
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.sql.catalyst.util.ArrayData
    import org.apache.spark.sql.expressions.Window
    import graft.functions.{OverlapFunctions, WinnowExpression}
    val hash = Gen.oneOf("0a", "0b", "1f", "7c", "7d", "e0", "ff")
    val fixed = Seq(Seq.empty[String], Seq("7c"), Seq("7c", "0a", "1f"),
      Seq("7c", "0a", "1f", "0b"), Seq.fill(9)("e0"),
      Seq("1f", "0a", "7c", "0a", "ff", "0a", "e0", "0a"),
      Seq("ff", "e0", "7d", "7c", "1f", "0b", "0a"))
    val random = (0 until 300).map(i => Gen.choose(0, 16)
      .flatMap(n => Gen.listOfN(n, hash)).pureApply(Gen.Parameters.default, Seed(i.toLong)))
    val arrays = (fixed ++ random).zipWithIndex.map { case (a, i) => (i.toLong, a) }
    Seq(1, 3, 4).foreach { w =>
      val base = arrays.toDF("id", "hs").repartition(2)
      // the former q165 plan: per-position window minima over full
      // windows, the rightmost minimal position, then distinct hashes
      val grams = base.select(col("id"), posexplode(col("hs")))
        .select(col("id"), (col("pos") + 1).cast(LongType).as("q"), col("col").as("h"))
      val perDoc = Window.partitionBy(col("id"))
      val wins = grams
        .withColumn("n", count(lit(1)).over(perDoc))
        .withColumn("minh", min(col("h")).over(
          perDoc.orderBy(col("q").asc).rowsBetween(0, w - 1)))
        .filter(col("q") <= col("n") - w + 1)
        .select(col("id"), col("q").as("i"), col("minh"))
      val ref = wins
        .join(grams.select(col("id"), col("q"), col("h").as("minh")), Seq("id", "minh"))
        .filter(col("q") >= col("i") && col("q") <= col("i") + w - 1)
        .groupBy(col("id"), col("i"), col("minh")).agg(max(col("q")).as("sel_q"))
        .select(col("id"), col("minh")).distinct()
        .collect().groupBy(_.getLong(0)).map { case (id, rs) => id -> rs.map(_.getString(1)).toSet }
      val df = base.select(col("id"), OverlapFunctions.winnow(col("hs"), w).as("fp"))
      val got = df.collect().map(r => r.getLong(0) -> r.getSeq[String](1)).toMap
      arrays.foreach { case (id, hs) =>
        val fp = got(id)
        assert(fp.distinct == fp, s"w=$w duplicates in $fp")
        assert(fp.toSet == ref.getOrElse(id, Set.empty), s"w=$w codegen hs=$hs")
        val interp = WinnowExpression(Literal.create(hs, ArrayType(StringType)), w)
          .eval(null).asInstanceOf[ArrayData]
        assert((0 until interp.numElements()).map(interp.getUTF8String(_).toString) == fp,
          s"w=$w interpreted hs=$hs")
        if (hs.size < w) assert(fp.isEmpty, s"w=$w n=${hs.size} must give no fingerprint")
      }
      val plan = df.queryExecution.executedPlan.toString
      val line = plan.linesIterator.find(_.contains("winnow"))
      assert(line.isDefined, s"kernel not in executed plan:\n$plan")
      assert(line.get.contains("*"), s"winnow fell out of whole-stage codegen:\n$plan")
    }
    assert(WinnowExpression(Literal.create(null, ArrayType(StringType)), 4).eval(null) == null)
  }
}
