package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.operators.{Dedup, Multimodal, Records, Similarity, TextAnalysis}

/** Unit coverage for the LLM-pipeline operators on hand-built inputs
  * with known answers. */
class OperatorsSpec extends SparkTestBase {

  import spark.implicits._

  test("rolling-window kernel matches the declarative transform+slice dual") {
    val docs = Seq(
      (1L, "a b c d e f g h i j"),   // 3 windows of 8
      (2L, "a b c d e f g h"),       // exactly one window
      (3L, "too short"),             // none
      (4L, "x y z x y z x y z x"),   // repeats inside one doc
      (5L, "p q r s t u v w ")       // trailing space → empty token KEPT
    ).toDF("doc_id", "text")          //   (Spark split limit -1 semantics)
    val declarative = docs
      .withColumn("ws", split(col("text"), " "))
      .filter(size(col("ws")) >= 8)
      .select(col("doc_id"), explode(expr(
        "transform(sequence(0, size(ws)-8), i -> md5(array_join(slice(ws, i+1, 8), ' ')))"))
        .as("h"))
      .as[(Long, String)].collect().toSeq.sorted
    val kernel = docs
      .select(col("doc_id"), explode(
        graft.functions.TextHashFunctions.rollingWindowHashes(col("text"), 8)).as("h"))
      .as[(Long, String)].collect().toSeq.sorted
    assert(kernel == declarative)
    assert(kernel.count(_._1 == 1L) == 3)
    // text variant: same windows unhashed
    val texts = docs
      .select(col("doc_id"), explode(
        graft.functions.TextHashFunctions.rollingWindows(col("text"), 8)).as("s"))
      .as[(Long, String)].collect().toSeq.sorted
    assert(texts.head == (1L, "a b c d e f g h"))
    assert(texts.map(t => (t._1, graft.functions.TextHash.md5hex(t._2))).sorted == declarative)
  }

  test("exact dedup groups identical texts, keeps min id") {
    val df = Seq((1L, "hello world"), (2L, "hello world"), (3L, "unique"))
      .toDF("id", "text")
    val out = Dedup.exact(df, "id", "text")
      .select("keep_id", "n_copies").as[(Long, Long)].collect().sortBy(_._1)
    assert(out.toSeq == Seq((1L, 2L), (3L, 1L)))
  }

  test("word shingles produce n-token windows") {
    val df = Seq(Tuple1("a b c d")).toDF("text")
    val sh = df.select(Dedup.wordShingles(col("text"), 3).as("sh"))
      .as[Seq[String]].head()
    assert(sh == Seq("a b c", "b c d"))
    val short = Seq(Tuple1("a b")).toDF("text")
      .select(Dedup.wordShingles(col("text"), 3).as("sh")).as[Seq[String]].head()
    assert(short.isEmpty)
  }

  test("minhash LSH finds near-duplicates, not unrelated docs") {
    val base = "the quick brown fox jumps over the lazy dog again and again today"
    val near = base.replace("today", "tomorrow") // 1-word edit
    val far = "completely different content about spark engines and parquet files here"
    val df = Seq((1L, base), (2L, near), (3L, far)).toDF("doc_id", "text")
    val pairs = Dedup.minhashNearDups(df, "doc_id", "text", threshold = 0.3)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(pairs.contains((1L, 2L)))
    assert(!pairs.exists(p => p._1 == 3L || p._2 == 3L))
  }

  test("minhash LSH on duplicate-heavy input: collapse guard keeps output exact") {
    // 3 exact copies of base, 2 of near, 1 unrelated. The collapse guard
    // bands each distinct content once; output must still be every
    // document pair: within-class pairs at jaccard exactly 1.0, and all
    // 3×2 cross pairs carrying the one class-level score.
    val base = "the quick brown fox jumps over the lazy dog again and again today"
    val near = base.replace("today", "tomorrow")
    val far = "completely different content about spark engines and parquet files here"
    val df = Seq((1L, base), (4L, base), (6L, base), (2L, near), (5L, near), (3L, far))
      .toDF("doc_id", "text")
    val out = Dedup.minhashNearDups(df, "doc_id", "text", threshold = 0.3)
      .select("id_a", "id_b", "jaccard").as[(Long, Long, Double)].collect()
    val pairs = out.map(r => (r._1, r._2)).toSet
    assert(out.length == pairs.size, "no duplicate pairs emitted")
    // within-class: {1,4,6} and {2,5}, all at exactly 1.0
    val withinExpected = Set((1L, 4L), (1L, 6L), (4L, 6L), (2L, 5L))
    assert(withinExpected.subsetOf(pairs))
    withinExpected.foreach { p =>
      assert(out.find(r => (r._1, r._2) == p).get._3 == 1.0) }
    // cross-class: every base×near member pair, one shared score < 1.0
    val crossExpected = Set((1L, 2L), (1L, 5L), (2L, 4L), (4L, 5L), (2L, 6L), (5L, 6L))
    assert(crossExpected.subsetOf(pairs))
    val crossScores = crossExpected.map(p => out.find(r => (r._1, r._2) == p).get._3)
    assert(crossScores.size == 1 && crossScores.head < 1.0 && crossScores.head >= 0.3)
    // no pairs with the unrelated doc
    assert(!pairs.exists(p => p._1 == 3L || p._2 == 3L))
    assert(pairs == withinExpected ++ crossExpected)
  }

  test("incremental probe against a prebuilt index matches batch-vs-corpus dups") {
    val base = "the quick brown fox jumps over the lazy dog again and again today"
    val near = base.replace("today", "tomorrow") // near-dup of corpus doc 1
    val far = "completely different content about spark engines and parquet files here"
    val corpus = Seq((1L, base), (2L, far)).toDF("doc_id", "text")
    val incoming = Seq((10L, near), (11L, "brand new unrelated text with nothing shared at all whatsoever")).toDF("doc_id", "text")
    val index = Dedup.signatureIndex(corpus, "doc_id", "text")
    val hits = Dedup.probeNearDups(incoming, index, "doc_id", "text", threshold = 0.3)
      .select("new_id", "corpus_id").as[(Long, Long)].collect().toSet
    assert(hits == Set((10L, 1L)))
  }

  test("identical docs have identical simhash; different docs differ") {
    val df = Seq((1L, "alpha beta gamma delta"), (2L, "alpha beta gamma delta"),
      (3L, "omega psi chi phi")).toDF("id", "text")
    val hashes = df.select(col("id"), Dedup.simhashBits(col("text")).as("h"))
      .as[(Long, String)].collect().toMap
    assert(hashes(1L) == hashes(2L))
    assert(hashes(1L) != hashes(3L))
    assert(hashes(1L).length == 64)
    assert(hashes(1L).forall(c => c == '0' || c == '1'))
  }

  test("hamming distance counts differing bit positions") {
    val df = Seq(("1100", "1010")).toDF("a", "b")
    val d = df.select(Dedup.hammingDistance(col("a"), col("b"))).as[Int].head()
    assert(d == 2)
  }

  test("jaccard: exact set semantics") {
    val df = Seq((Seq("a", "b", "c"), Seq("b", "c", "d"))).toDF("x", "y")
    val j = df.select(Dedup.jaccard(col("x"), col("y"))).as[Double].head()
    assert(math.abs(j - 0.5) < 1e-12) // |{b,c}| / |{a,b,c,d}|
  }

  test("cosine similarity: orthogonal=0, identical=1, deterministic fold") {
    val df = Seq(
      (Seq(1.0f, 0.0f), Seq(0.0f, 1.0f)),
      (Seq(1.0f, 2.0f), Seq(1.0f, 2.0f)),
      (Seq(0.0f, 0.0f), Seq(1.0f, 1.0f))).toDF("a", "b")
    val sims = df.select(Similarity.cosine(col("a"), col("b"))).as[Double].collect()
    assert(math.abs(sims(0)) < 1e-12)
    assert(math.abs(sims(1) - 1.0) < 1e-12)
    assert(sims(2) == 0.0) // zero vector guard
  }

  test("brute-force top-k returns k nearest, excludes self") {
    val vecs = Seq(
      (0L, Seq(1.0f, 0.0f)), (1L, Seq(0.9f, 0.1f)),
      (2L, Seq(0.0f, 1.0f)), (3L, Seq(1.0f, 0.05f)))
    val corpus = vecs.toDF("vec_id", "embedding")
    val queries = corpus.filter(col("vec_id") === 0)
      .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
    val out = Similarity.bruteForceTopK(corpus, queries,
      "vec_id", "embedding", "qid", "qvec", k = 2)
      .select("neighbor_id", "rank").as[(Long, Long)].collect().sortBy(_._2)
    assert(out.map(_._1).toSeq == Seq(3L, 1L)) // 3 is closer to (1,0) than 1
  }

  test("vector kernels match the declarative fold, including null semantics") {
    val df = Seq(
      (Seq[java.lang.Float](1f, 2f), Seq[java.lang.Float](3f, 4f)), // clean
      (Seq[java.lang.Float](1f, 2f), Seq[java.lang.Float](3f)),     // ragged → null
      (Seq[java.lang.Float](1f, null), Seq[java.lang.Float](3f, 4f)) // null elem → null
    ).toDF("a", "b")
    val rows = df.select(
      graft.functions.VectorFunctions.vecDot(col("a"), col("b")).as("k"),
      expr("aggregate(zip_with(a, b, (x, y) -> CAST(x AS DOUBLE) * y)," +
        " 0D, (acc, v) -> acc + v)").as("d"),
      graft.functions.VectorFunctions.vecNorm(col("a")).as("nk"),
      expr("sqrt(aggregate(transform(a, x -> CAST(x AS DOUBLE) * x)," +
        " 0D, (acc, v) -> acc + v))").as("nd")).collect()
    rows.foreach { r =>
      assert(r.isNullAt(0) == r.isNullAt(1))
      if (!r.isNullAt(0)) assert(r.getDouble(0) == r.getDouble(1))
      assert(r.isNullAt(2) == r.isNullAt(3))
      if (!r.isNullAt(2)) assert(r.getDouble(2) == r.getDouble(3))
    }
    assert(rows(0).getDouble(0) == 11.0 && rows(1).isNullAt(0) && rows(2).isNullAt(0))
  }

  test("LSH signature is deterministic and bucket-joins find matches") {
    val vecs = Seq((0L, Seq.fill(8)(1.0f)), (1L, Seq.fill(8)(1.0f)))
    val df = vecs.toDF("vec_id", "embedding")
    val sigs = df.select(Similarity.lshSignature(col("embedding"), 8, 8).as("s"))
      .as[String].collect()
    assert(sigs(0) == sigs(1))
    assert(sigs(0).length == 8)
  }

  test("token count, subwords, stopword ratio, mean token length") {
    val df = Seq(Tuple1("the cat sat on the mat")).toDF("text")
    val row = df.select(
      TextAnalysis.tokenCount(col("text")).as("n"),
      TextAnalysis.subwordCount(col("text")).as("sub"),
      TextAnalysis.stopwordRatio(col("text"), Seq("the", "on")).as("sw"),
      TextAnalysis.meanTokenLength(col("text")).as("mean"))
      .as[(Int, Long, Double, Double)].head()
    assert(row._1 == 6)
    assert(row._2 == 6) // all tokens ≤4 chars → 1 subword each
    assert(math.abs(row._3 - 0.5) < 1e-12) // the, on, the
    assert(math.abs(row._4 - 17.0 / 6) < 1e-12)
  }

  test("arrow export: chunked IPC batches round-trip rows and schema") {
    import org.apache.spark.sql.GraftBridge
    val df = graft.sources.Tables.documents(spark, sf())
      .select(col("doc_id"), col("lang"), col("n_chars"))
    val batches = GraftBridge.toArrowBatches(df, maxRecordsPerBatch = 16).collect()
    // chunking: 100 docs at ≤16 rows per batch ⇒ several batches
    assert(batches.length >= math.ceil(df.count() / 16.0).toInt / df.rdd.getNumPartitions)
    val back = GraftBridge.fromArrowBatches(spark, batches.iterator)
    assert(back.count() == df.count())
    assert(back.schema.fieldNames.toSeq == Seq("doc_id", "lang", "n_chars"))
    val a = df.orderBy("doc_id").collect().map(_.toSeq)
    val b = back.orderBy("doc_id").collect().map(_.toSeq)
    assert(a.sameElements(b))
  }

  test("word entropy: uniform=log2(n), repeated=0, empty=0, mixed exact") {
    val df = Seq(Tuple1("a b c d"), Tuple1("a a a a"), Tuple1(""), Tuple1("a a b"))
      .toDF("text")
    val h = df.select(graft.functions.TextHashFunctions.wordEntropy(col("text")))
      .as[Double].collect()
    assert(math.abs(h(0) - 2.0) < 1e-12)  // 4 distinct → log2(4)
    assert(h(1) == 0.0)                   // single repeated token
    assert(h(2) == 0.0)                   // no tokens
    // {a:2, b:1}: log2(3) − (2·log2(2) + 1·0)/3
    val expected = math.log(3.0) / math.log(2.0) - 2.0 / 3.0
    assert(math.abs(h(3) - expected) < 1e-12)
  }

  test("langId picks the best-scoring language, und when no hits") {
    val markers = Seq("en" -> Seq("the", "dog"), "fr" -> Seq("le", "chien"))
    val df = Seq(Tuple1("the dog runs"), Tuple1("le chien court"), Tuple1("xyzzy")).toDF("text")
    val langs = df.select(TextAnalysis.langId(col("text"), markers)).as[String].collect()
    assert(langs.toSeq == Seq("en", "fr", "und"))
  }

  test("fingerprint: identical prefix/content collides, edits elsewhere keep min") {
    val df = Seq((1L, "abcdefghij"), (2L, "abcdefghij")).toDF("id", "text")
    val fps = df.select(TextAnalysis.fingerprint(col("text"), 8)).as[String].collect()
    assert(fps(0) == fps(1))
  }

  test("multimodal: binary wrap + batched feature extraction round-trips") {
    val docs = Seq((1L, "hello"), (2L, "world!")).toDF("doc_id", "text")
    val media = Multimodal.asBinaryColumn(docs, "doc_id", "text", "text/plain")
    assert(media.schema("content").dataType == BinaryType)
    val feats = Multimodal.extractFeatures(media).collect().sortBy(_.media_id)
    assert(feats.length == 2)
    assert(feats(0).n_bytes == 5 && feats(1).n_bytes == 6)
    assert(feats.forall(_.ok))
    // text payloads are NOT images: no fabricated format or dimensions
    assert(feats.forall(f => f.format.isEmpty && f.width.isEmpty && f.height.isEmpty))
    // checksum matches md5 of the utf-8 payload
    val expected = java.security.MessageDigest.getInstance("MD5")
      .digest("hello".getBytes("UTF-8")).map("%02x".format(_)).mkString
    assert(feats(0).checksum == expected)
  }

  test("multimodal: real container headers yield known fixture dimensions") {
    import graft.operators.ImageHeaders
    def b(xs: Int*): Array[Byte] = xs.map(_.toByte).toArray
    val png = b(0x89, 'P', 'N', 'G', 0x0d, 0x0a, 0x1a, 0x0a, // signature
      0, 0, 0, 13, 'I', 'H', 'D', 'R',                        // IHDR chunk
      0, 0, 0, 5, 0, 0, 0, 7)                                 // w=5 h=7 (BE)
    val gif = b('G', 'I', 'F', '8', '9', 'a', 3, 0, 2, 0)     // w=3 h=2 (LE)
    val jpg = b(0xff, 0xd8,                                   // SOI
      0xff, 0xe0, 0x00, 0x04, 0x4a, 0x46,                     // APP0 (skipped)
      0xff, 0xc0, 0x00, 0x0b, 0x08, 0x00, 0x07, 0x00, 0x05)   // SOF0 h=7 w=5
    val bmp = ("BM" + " " * 16).getBytes("US-ASCII") ++
      b(9, 0, 0, 0) ++ b(4, 0, 0, 0)                          // w=9 h=4 (LE)
    assert(ImageHeaders.parse(png).contains(ImageHeaders.ImageMeta("png", 5, 7)))
    assert(ImageHeaders.parse(gif).contains(ImageHeaders.ImageMeta("gif", 3, 2)))
    assert(ImageHeaders.parse(jpg).contains(ImageHeaders.ImageMeta("jpeg", 5, 7)))
    assert(ImageHeaders.parse(bmp).contains(ImageHeaders.ImageMeta("bmp", 9, 4)))
    assert(ImageHeaders.parse("not an image at all".getBytes).isEmpty)
    assert(ImageHeaders.parse(Array.emptyByteArray).isEmpty)
    // end-to-end through the distributed extraction path
    val rows = Seq((1L, png), (2L, gif), (3L, jpg), (4L, bmp),
      (5L, "plain text".getBytes("UTF-8")))
    val media = rows.toDF("media_id", "content")
      .select(col("media_id"), col("content"),
        lit("application/octet-stream").as("mime_type"),
        octet_length(col("content")).cast(LongType).as("n_bytes"))
    val feats = Multimodal.extractFeatures(media).collect()
      .map(f => f.media_id -> ((f.format, f.width, f.height))).toMap
    assert(feats(1L) == ((Some("png"), Some(5), Some(7))))
    assert(feats(2L) == ((Some("gif"), Some(3), Some(2))))
    assert(feats(3L) == ((Some("jpeg"), Some(5), Some(7))))
    assert(feats(4L) == ((Some("bmp"), Some(9), Some(4))))
    assert(feats(5L) == ((None, None, None)))
  }

  test("record projection: case-insensitive match, null-fill, prune, cast") {
    val df = Seq((1, "A", "extra")).toDF("ID", "Name", "Undeclared")
    val declared = StructType(Seq(
      StructField("id", LongType), StructField("name", StringType),
      StructField("missing", StringType)))
    val out = Records.project(df, declared)
    assert(out.schema.fieldNames.toSeq == Seq("id", "name", "missing"))
    assert(out.schema("id").dataType == LongType)
    val row = out.head()
    assert(row.getLong(0) == 1L && row.getString(1) == "A" && row.isNullAt(2))
  }

  test("uuid7 is unique, time-ordered across batches, RFC shaped") {
    val ids = spark.range(1000)
      .select(graft.functions.functions.uuid7().as("id")).as[String].collect()
    assert(ids.distinct.length == 1000)
    assert(ids.forall(_.matches(
      "[0-9a-f]{8}-[0-9a-f]{4}-7[0-9a-f]{3}-[89ab][0-9a-f]{3}-[0-9a-f]{12}")))
    val before = graft.functions.Uuid7.next()
    Thread.sleep(5)
    val after = graft.functions.Uuid7.next()
    assert(before < after) // time-sortable (constants.py:23-33 rationale)
  }

  test("uuid7 row ids: distinct across 8 partitions, strictly increasing within each") {
    val rfc = "[0-9a-f]{8}-[0-9a-f]{4}-7[0-9a-f]{3}-[89ab][0-9a-f]{3}-[0-9a-f]{12}"
    // whole-stage codegen path: a range partition yields its rows in id order
    val rows = spark.range(0, 40000, 1, 8)
      .select(spark_partition_id().as("p"), col("id"),
        graft.functions.functions.uuid7().as("u"))
      .as[(Int, Long, String)].collect()
    assert(rows.map(_._3).distinct.length == 40000)
    assert(rows.forall(_._3.matches(rfc)))
    val byPart = rows.groupBy(_._1)
    assert(byPart.size == 8 && byPart.values.forall(_.length == 5000))
    byPart.values.foreach { part =>
      val ids = part.sortBy(_._2).map(_._3)
      assert(ids.sliding(2).forall { case Array(a, b) => a < b },
        "ids must strictly increase in row order within a partition")
    }
    // interpreted path: one generator per initialized partition
    val e = graft.functions.Uuid7Expression()
    e.initialize(0)
    val interp = Seq.fill(5000)(e.eval().toString)
    assert(interp.forall(_.matches(rfc)))
    assert(interp.sliding(2).forall { case Seq(a, b) => a < b })
  }
}
