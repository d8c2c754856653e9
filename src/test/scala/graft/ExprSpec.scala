package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.expr.ArrayExprs.{jaccardSorted, minhashSignature}
import graft.expr.ShingleHashes.shingleHashes
import graft.expr.UfcExprs

/** Unit tests for the custom Catalyst expressions and shared scalar
  * helpers — the custom expressions must be bit-compatible with their
  * built-in composable equivalents (they exist purely as fast paths).
  */
class ExprSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", 4)
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  import spark.implicits._

  test("ShingleHashes matches the built-in xxhash64 pipeline bit-for-bit") {
    val docs = Seq("the quick brown fox jumps over the lazy dog",
      "a b c", "one two", "  spaced   out   words  here ").toDF("text")
    val custom = docs.select(shingleHashes(col("text"), 3).as("hs"))
      .collect().map(_.getSeq[Long](0).toSet)
    val builtin = graft.ops.Dedup.withShingles(docs)
      .select(expr("transform(shingles, s -> xxhash64(s))").as("hs"))
      .collect().map(_.getSeq[Long](0).toSet)
    custom.zip(builtin).foreach { case (c, b) => assert(c == b) }
  }

  test("TrigramLangScores kernel matches the aggregate/CASE reference bit-for-bit") {
    val docs = graft.queries.T.documents(spark, "/root/testdata/sf0.001")
      .limit(200)
      .select("doc_id", "text")
      .unionByName(Seq(
        (900001L, ""), (900002L, "ab"), (900003L, "   "),
        (900004L, "the sch ait cio"), (900005L, "ZZZ UNKNOWN GRAMS")
      ).toDF("doc_id", "text"))
    val cols = graft.expr.TrigramLang.langs.map(l => s"tscore_$l") :+ "predicted_lang"
    val kernel = graft.ops.TextAnalysis.withLangIdTrigram(docs)
      .select("doc_id", cols: _*).orderBy("doc_id").collect()
    val ref = graft.ops.TextAnalysis.withLangIdTrigramRef(docs)
      .select("doc_id", cols: _*).orderBy("doc_id").collect()
    assert(kernel.length == ref.length)
    kernel.zip(ref).foreach { case (k, r) => assert(k == r, s"$k != $r") }
  }

  test("ShingleStrings matches the built-in shingle pipeline exactly") {
    val docs = Seq("the quick brown fox jumps over the lazy dog",
      "a b c", "one two", "  spaced   out   words  here ", "x y z x y z x y")
      .toDF("text")
    val custom = docs
      .select(graft.expr.ShingleStrings.shingleStrings(col("text"), 3).as("s"))
      .collect().map(_.getSeq[String](0))
    val builtin = graft.ops.Dedup.withShingles(docs)
      .select(col("shingles"))
      .collect().map(_.getSeq[String](0))
    custom.zip(builtin).foreach { case (c, b) => assert(c == b) }
  }

  test("ShingleHashes: fewer words than n yields empty array") {
    val out = Seq("one two", "").toDF("text")
      .select(shingleHashes(col("text"), 3).as("hs"))
      .collect().map(_.getSeq[Long](0))
    assert(out.forall(_.isEmpty))
  }

  test("WordListStats-backed quality/langid match their built-in reference forms") {
    val docs = graft.queries.T.documents(spark, "/root/testdata/sf0.001")
      .select("doc_id", "text")
      .unionByName(Seq(
        // no empty-text row: nChars = 0 divides by zero in BOTH the kernel
        // and reference forms (pre-existing domain contract of the op)
        (930002L, "the"), (930003L, "  the  a  "),
        (930004L, "der la le the und y"), (930005L, "no markers here xx"),
        (930006L, "tabs\tand\nnewlines the"), (930007L, "ünïcode the wörds")
      ).toDF("doc_id", "text"))
    val qCols = Seq("n_words", "mean_word_len", "punct_ratio",
      "stopword_ratio", "quality_score")
    val qk = graft.ops.TextAnalysis.withQuality(docs)
      .select("doc_id", qCols: _*).orderBy("doc_id").collect()
    val qr = graft.ops.TextAnalysis.withQualityRef(docs)
      .select("doc_id", qCols: _*).orderBy("doc_id").collect()
    assert(qk.length == qr.length && qk.length > 0)
    qk.zip(qr).foreach { case (k, r) => assert(k == r) }
    val lCols = graft.ops.TextAnalysis.langMarkers.map(m => s"score_${m._1}") :+
      "predicted_lang"
    val lk = graft.ops.TextAnalysis.withLangId(docs)
      .select("doc_id", lCols: _*).orderBy("doc_id").collect()
    val lr = graft.ops.TextAnalysis.withLangIdRef(docs)
      .select("doc_id", lCols: _*).orderBy("doc_id").collect()
    assert(lk.length == lr.length && lk.length > 0)
    lk.zip(lr).foreach { case (k, r) => assert(k == r) }
  }

  test("DsirGramBuckets matches the explode+md5-hex+conv reference bit-for-bit") {
    val docs = graft.queries.T.documents(spark, "/root/testdata/sf0.001")
      .select("doc_id", "text")
      .unionByName(Seq(
        (920001L, ""), (920002L, "one"), (920003L, "  two  words  "),
        (920004L, "tabs\tand\nnewlines here"), (920005L, "ünïcode wörds τρία")
      ).toDF("doc_id", "text"))
    // kernel emits unigrams then bigrams; the reference concat does the
    // same — compare the full multiset per doc via sorted collect_list
    val kernel = docs.select(col("doc_id"),
      explode(graft.expr.DsirGramBuckets.dsirGramBuckets(
        lower(trim(col("text"))), 512)).as("bucket"))
      .groupBy("doc_id").agg(sort_array(collect_list("bucket")).as("bs"))
      .orderBy("doc_id").collect()
    val ref = graft.ops.Dsir.bucketedRef(docs, "doc_id", "text")
      .groupBy("doc_id").agg(sort_array(collect_list("bucket")).as("bs"))
      .orderBy("doc_id").collect()
    assert(kernel.length == ref.length && kernel.length > 0)
    kernel.zip(ref).foreach { case (k, r) => assert(k == r) }
  }

  test("Md5ShingleHashes matches the shingle_strings+md5-hex+conv form") {
    val docs = graft.queries.T.documents(spark, "/root/testdata/sf0.001")
      .select("doc_id", "text")
      .unionByName(Seq(
        (940001L, ""), (940002L, "one two"), (940003L, "  three  word  doc  "),
        (940004L, "a b c a b c a b"), (940005L, "ünïcode wörds τρία here")
      ).toDF("doc_id", "text"))
      .withColumn("source", col("doc_id") % 4)
    val kernel = graft.ops.ScaleOps
      .sourceShingleHashes(docs, "source", "text", 3)
      .orderBy("source", "hv").collect()
    val ref = graft.ops.ScaleOps
      .sourceShingleHashesRef(docs, "source", "text", 3)
      .orderBy("source", "hv").collect()
    assert(kernel.length == ref.length && kernel.length > 0)
    kernel.zip(ref).foreach { case (k, r) => assert(k == r) }
  }

  test("CdcBoundaries-backed chunking matches the filter/md5-hex form") {
    val docs = graft.queries.T.documents(spark, "/root/testdata/sf0.001")
      .select("doc_id", "text")
      .unionByName(Seq(
        (950001L, ""), (950002L, "one"), (950003L, "two words"),
        (950004L, "three word doc"), (950005L, "a b c d e f g h i j k l"),
        (950006L, "  padded   with   spaces  ")
      ).toDF("doc_id", "text"))
    val cols = Seq("chunk_id", "n_tokens", "chunk_hash")
    val kernel = graft.ops.CorpusQuality.chunkContentDefined(docs)
      .select("doc_id", cols: _*).orderBy("doc_id", "chunk_id").collect()
    val ref = graft.ops.CorpusQuality.chunkContentDefinedRef(docs)
      .select("doc_id", cols: _*).orderBy("doc_id", "chunk_id").collect()
    assert(kernel.length == ref.length && kernel.length > 0)
    kernel.zip(ref).foreach { case (k, r) => assert(k == r, s"$k != $r") }
  }

  test("GramDigests-backed duplicatedSpans matches the md5-hex reference") {
    val docs = graft.queries.T.documents(spark, "/root/testdata/sf0.001")
      .select("doc_id", "text")
      .unionByName(Seq(
        (960001L, ""), (960002L, "a b c d"), (960003L, "a b c d e"),
        (960004L, "x y z w v x y z w v x y z w v"),
        (960005L, "  spaced   out   tokens repeated tokens repeated tokens  ")
      ).toDF("doc_id", "text"))
    val cols = Seq("span_start", "span_end", "span_tokens")
    val kernel = graft.ops.Dedup.duplicatedSpans(docs)
      .select("doc_id", cols: _*).orderBy("doc_id", "span_start").collect()
    val ref = graft.ops.Dedup.duplicatedSpansRef(docs)
      .select("doc_id", cols: _*).orderBy("doc_id", "span_start").collect()
    assert(kernel.length == ref.length && kernel.length > 0)
    kernel.zip(ref).foreach { case (k, r) => assert(k == r, s"$k != $r") }
    // and the digest bytes hex back to exactly the built-in md5's output
    val hexEq = Seq(("a b c")).toDF("t")
      .select(
        (lower(hex(element_at(graft.expr.GramDigests.gramDigests(
          split(col("t"), " "), 2), 1))) === md5(lit("a b"))).as("g1"),
        (lower(hex(element_at(graft.expr.GramDigests.gramDigests(
          split(col("t"), " "), 2), 2))) === md5(lit("b c"))).as("g2"))
      .collect()(0)
    assert(hexEq.getBoolean(0) && hexEq.getBoolean(1))
  }

  test("BPE kernels match their composable fold/transform references") {
    // domain = non-empty words (the BPE pipeline filters '' before the
    // split; on '' the Ref's sequence(1,0) DESCENDS and yields ["",""],
    // which is outside the operator's input domain)
    val words = Seq("value", "aaa", "ab", "x", "tables", "ünïcode",
      "a😀b", "banana").toDF("w")
    // CharSyms == transform(sequence(1, length(w)), i -> substring(w, i, 1))
    val ck = words.select(graft.expr.CharSyms.charSyms(col("w")).as("s")).collect()
    val cr = words.select(graft.ops.TextAnalysis.charSymsRef.as("s")).collect()
    ck.zip(cr).foreach { case (k, r) =>
      assert(k.getSeq[String](0) == r.getSeq[String](0), s"$k != $r") }
    // BpeMergeFold == the accumulator fold, incl. a==b and overlap cases
    for ((a, b) <- Seq(("a", "a"), ("a", "b"), ("an", "a"), ("b", "an"))) {
      val syms = words.select(graft.expr.CharSyms.charSyms(col("w")).as("s"))
      val fk = syms.select(
        graft.expr.BpeMergeFold.bpeMergeFold(col("s"), a, b).as("m")).collect()
      val fr = syms.select(
        graft.ops.TextAnalysis.applyBpeMergeRef(col("s"), a, b).as("m")).collect()
      fk.zip(fr).foreach { case (k, r) =>
        assert(k.getSeq[String](0) == r.getSeq[String](0), s"($a,$b): $k != $r") }
    }
  }

  test("PiiScrubStats kernel matches the composable 8-stage chain bit-for-bit") {
    val planted = Seq(
      (9000001L, "call +15551234567 or (555) 123-4567 today"),
      (9000002L, "ssn 123-45-6789 acct 987654321 ok"),
      (9000003L,
        "see https://ex.io/a?p=1 mail a.b@ex.io tel 555-123-4567 id 123456789012"),
      (9000004L, "pay 4111 1111 1111 1111 or 4111111111111111 now"),
      (9000005L, "iban GB82 WEST 1234 5698 7654 32 or DE89370400440532013000 ok"),
      (9000006L, "fake DE89370400440532013001 stays put"),
      (9000007L, ""), (9000008L, "   "),
      (9000009L, "born 1995-01-01 at 12:34:56 not a phone"),
      (9000010L, "edge +1234567890123456 too long, +1234567 minimal")
    ).toDF("doc_id", "text")
    val docs = graft.queries.T.documents(spark, "/root/testdata/sf0.001")
      .select("doc_id", "text").unionByName(planted)
    val cols = Seq("n_urls", "n_emails", "n_phones", "n_ibans", "n_ccs",
      "n_ids", "scrubbed_pii")
    val kernel = graft.ops.TextAnalysis.withPiiScrub(docs)
      .select("doc_id", cols: _*).orderBy("doc_id").collect()
    val ref = graft.ops.TextAnalysis.withPiiScrubRef(docs)
      .select("doc_id", cols: _*).orderBy("doc_id").collect()
    assert(kernel.length == ref.length && kernel.length > 0)
    kernel.zip(ref).foreach { case (k, r) => assert(k == r, s"$k != $r") }
  }

  test("PhraseCount matches the sequence/filter/element_at form bit-for-bit") {
    val docs = graft.queries.T.documents(spark, "/root/testdata/sf0.001")
      .select("doc_id", "text")
      .unionByName(Seq(
        (910001L, "value table"), (910002L, "value table value table"),
        (910003L, "value value table table value table"),
        (910004L, "value"), (910005L, ""), (910006L, "table value"),
        (910007L, "x value table value table value")
      ).toDF("doc_id", "text"))
    val ws = filter(split(lower(trim(col("text"))), "\\s+"), x => x =!= "")
    val phrase = Seq("value", "table")
    def matchAt(i: org.apache.spark.sql.Column) = phrase.zipWithIndex.map {
      case (w, j) => element_at(col("__ws"), i + lit(j)) === lit(w)
    }.reduce(_ && _)
    val base = docs.select(col("doc_id"), ws.as("__ws"))
      .filter(size(col("__ws")) >= phrase.size)
    val kernel = base.select(col("doc_id"),
      graft.expr.ArrayExprs.phraseCount(col("__ws"), phrase).as("n"))
      .orderBy("doc_id").collect()
    val ref = base.select(col("doc_id"),
      size(filter(sequence(lit(1), size(col("__ws")) - (phrase.size - 1)),
        i => matchAt(i))).cast("long").as("n"))
      .orderBy("doc_id").collect()
    assert(kernel.length == ref.length && kernel.length > 0)
    kernel.zip(ref).foreach { case (k, r) => assert(k == r) }
    // null elements never match (the lambda's null equality drops the
    // position); short arrays count zero
    val edge = Seq((1L, Seq[String]("value", null, "table", "value", "table")))
      .toDF("id", "__ws")
    assert(edge.select(graft.expr.ArrayExprs.phraseCount(col("__ws"), phrase))
      .head().getLong(0) == 1L)
  }

  test("JaccardSorted equals array_intersect/array_union jaccard") {
    val df = Seq(
      (Array(1L, 2L, 3L, 5L), Array(2L, 3L, 4L, 5L)),
      (Array(1L, 2L), Array(3L, 4L)),
      (Array(1L, 2L, 3L), Array(1L, 2L, 3L))).toDF("a", "b")
    val got = df.select(jaccardSorted(col("a"), col("b"))).as[Double].collect().toSeq
    val want = df.select(
      size(array_intersect(col("a"), col("b"))).cast("double") /
        size(array_union(col("a"), col("b")))).as[Double].collect().toSeq
    assert(got == want)
  }

  test("MinHashSignature: 64 slots, deterministic, more-similar => more collisions") {
    val df = Seq(
      ("a", Array(1L, 2L, 3L, 4L, 5L, 6L, 7L, 8L)),
      ("b", Array(1L, 2L, 3L, 4L, 5L, 6L, 7L, 9L)), // 7/9 jaccard with a
      ("c", Array(100L, 200L, 300L))).toDF("id", "hs")
    val sigs = df.select(col("id"), minhashSignature(col("hs")))
      .collect().map(r => r.getString(0) -> r.getSeq[Long](1)).toMap
    assert(sigs("a").size == 64)
    val simAB = sigs("a").zip(sigs("b")).count { case (x, y) => x == y }
    val simAC = sigs("a").zip(sigs("c")).count { case (x, y) => x == y }
    assert(simAB > simAC, s"expected sig(a,b) collisions ($simAB) > sig(a,c) ($simAC)")
    // determinism across evaluations
    val again = df.select(col("id"), minhashSignature(col("hs")))
      .collect().map(r => r.getString(0) -> r.getSeq[Long](1)).toMap
    assert(sigs == again)
  }

  test("NfcNormalize composes decomposed sequences, passes NFC/null/empty through") {
    import graft.expr.NfcNormalize.nfc
    val rows = Seq(
      ("e\u0301", "\u00e9"),            // combining acute -> e-acute
      ("\u1100\u1161", "\uac00"),      // Hangul jamo -> composed syllable
      ("\u00e9", "\u00e9"),             // already NFC: fast path
      ("plain ascii", "plain ascii"),
      ("", ""),
      (null, null))
    val got = rows.map(_._1).toDF("s").select(nfc(col("s")))
      .collect().map(r => if (r.isNullAt(0)) null else r.getString(0)).toSeq
    assert(got == rows.map(_._2), s"NFC mismatch: $got")
    // JDK reference parity on a mixed string (the oracle-side contract:
    // DuckDB's nfc_normalize implements the same Unicode algorithm)
    val mixed = "a\u0301b\u1100\u1161 c\u0327"
    val viaExpr = Seq(mixed).toDF("s").select(nfc(col("s")))
      .head().getString(0)
    assert(viaExpr == java.text.Normalizer
      .normalize(mixed, java.text.Normalizer.Form.NFC))
    // participates in whole-stage codegen (no CodegenFallback span break);
    // a literal input would constant-fold to a LocalTableScan, so read a
    // real source
    val plan = graft.queries.T.documents(spark, "/root/testdata/sf0.001")
      .select(nfc(col("text")))
      .queryExecution.executedPlan.toString
    // the "*(n)" prefix marks a whole-stage-codegen'd operator; a
    // CodegenFallback expression would leave the Project unstarred
    assert(plan.contains("*(1) Project [nfc_normalize"),
      s"nfc projection not inside a codegen stage:\n$plan")
  }

  test("date ladder parses all four reference formats and rejects garbage") {
    val rows = Seq("Nov 12, 1993", "March 11, 1994", "Aug 2005",
      "September 1996", "someday soon", "13/04/2024").toDF("raw")
      .select(UfcExprs.dateLadder(col("raw")).cast("string")).as[String]
      .collect().toSeq
    assert(rows == Seq("1993-11-12", "1994-03-11", "2005-08-01",
      "1996-09-01", null, null))
  }

  test("split_part matches PG semantics: '' past the last part") {
    val r = Seq("a b").toDF("s")
      .select(split_part(col("s"), lit(" "), lit(5))).as[String].head()
    assert(r == "")
  }

  test("weight-category normalizers: working vs no-op reference variants") {
    val df = Seq("Interim UFC Heavyweight Title Bout", "UFC Lightweight Title Bout")
      .toDF("wc")
    val full = df.select(UfcExprs.weightCategoryFull(col("wc"))).as[String].collect()
    // strip order: ^UFC runs before ^Interim, so the prefix survives
    assert(full.toSeq == Seq("UFC Heavyweight", "Lightweight"))
    val noop = df.select(UfcExprs.weightCategoryNoop(col("wc"))).as[String].collect()
    assert(noop.toSeq == Seq("Interim UFC Heavyweight Title Bout", "UFC Lightweight Title Bout"))
  }

  test("GraftExtensions registers SQL functions for spark.sql users") {
    graft.expr.GraftExtensions.register(spark)
    val row = spark.sql(
      """SELECT jaccard_sorted(shingle_hashes('a b c d e', 3),
        |                      shingle_hashes('a b c d e x', 3)) AS j,
        |       size(minhash_signature(shingle_hashes('a b c d e', 3), 16)) AS slots
        |""".stripMargin).head()
    assert(row.getDouble(0) > 0.4 && row.getDouble(0) < 1.0)
    assert(row.getInt(1) == 16)
    val vec = spark.sql(
      """SELECT cosine_sim(array(1.0d, 0.0d), array(1.0d, 0.0d)) AS c,
        |       size(lsh_buckets(array(0.5d, -0.25d), 8, 4)) AS nt
        |""".stripMargin).head()
    assert(math.abs(vec.getDouble(0) - 1.0) < 1e-12)
    assert(vec.getInt(1) == 4)
    // lsh_buckets is the md5-seeded sign-LSH kernel the operators run
    val rnd = new scala.util.Random(7)
    val emb = (0L until 20L)
      .map(i => (i, Array.fill(64)(rnd.nextFloat() * 2 - 1)))
      .toDF("vec_id", "embedding")
    emb.createOrReplaceTempView("lsh_emb")
    val viaSql = spark.sql(
      "SELECT vec_id, lsh_buckets(embedding, 8, 4) AS b FROM lsh_emb")
    val viaOp = emb.select(col("vec_id"),
      graft.ops.Neutral.lshBuckets(col("embedding"), 8, 4).as("b"))
    val mismatch = viaSql.join(viaOp.withColumnRenamed("b", "o"), "vec_id")
      .filter(not(col("b") <=> col("o"))).count()
    assert(viaSql.count() == 20 && mismatch == 0,
      s"$mismatch vectors where lsh_buckets differs from Neutral.lshBuckets")
  }

  test("KernelSubstitution rewrites the composable cosine fold to the kernel") {
    import graft.expr.KernelSubstitution
    import graft.ops.Similarity
    val prev = spark.experimental.extraOptimizations
    spark.experimental.extraOptimizations = prev :+ KernelSubstitution
    try {
      val emb = graft.queries.T.embeddings(spark, "/root/testdata/sf0.001").limit(25)
      val pairs = emb.select(col("embedding").as("a"))
        .crossJoin(emb.select(col("embedding").as("b")))
      val folded = pairs.withColumn("c",
        Similarity.dot("a", "b") / (Similarity.norm("a") * Similarity.norm("b")))
      assert(folded.queryExecution.optimizedPlan.toString.contains("cosine_sim"),
        "the fold must be rewritten to the CosineSim kernel")
      // semantics preserved bit-for-bit vs the un-rewritten fold
      spark.experimental.extraOptimizations = prev
      val reference = pairs.withColumn("c",
        Similarity.dot("a", "b") / (Similarity.norm("a") * Similarity.norm("b")))
      assert(!reference.queryExecution.optimizedPlan.toString.contains("cosine_sim"))
      spark.experimental.extraOptimizations = prev :+ KernelSubstitution
      val got = folded.select("c").collect().map(_.getDouble(0)).toSeq
      val want = reference.select("c").collect().map(_.getDouble(0)).toSeq
      assert(got == want)
    } finally spark.experimental.extraOptimizations = prev
    // and the session extension injects it (construction-time path)
    val ext = new org.apache.spark.sql.SparkSessionExtensions
    new graft.expr.GraftExtensions().apply(ext)
    val rules = org.apache.spark.sql.graftbridge.optimizerRulesOf(ext, spark)
    assert(rules.exists(_ eq KernelSubstitution),
      "GraftExtensions must inject KernelSubstitution as an optimizer rule")
  }

  test("fighter token cleaner only strips the working ' retired' arm") {
    val toks = Seq("Both Khabib (retired)", "McGregor", "Jones retired")
      .toDF("f").select(UfcExprs.fighterToken(col("f"))).as[String].collect()
    assert(toks.toSeq == Seq("Both Khabib (retired)", "McGregor", "Jones"))
  }

  test("CosineSim kernel is bit-identical to the aggregate(zip_with) fold") {
    import graft.expr.VecExprs
    import graft.ops.Similarity
    val emb = graft.queries.T.embeddings(spark, "/root/testdata/sf0.001").limit(30)
    val pairs = emb.select(col("embedding").as("a"))
      .crossJoin(emb.select(col("embedding").as("b")))
    val mismatches = pairs
      .withColumn("kern", VecExprs.cosineSim(col("a"), col("b")))
      .withColumn("fold",
        Similarity.dot("a", "b") / (Similarity.norm("a") * Similarity.norm("b")))
      .filter(col("kern") =!= col("fold"))
      .count()
    assert(mismatches == 0)
  }

  test("Md5LshBuckets: deterministic, `tables` entries, scale-invariant") {
    import graft.expr.Md5LshBuckets
    val emb = graft.queries.T.embeddings(spark, "/root/testdata/sf0.001").limit(20)
    def buckets(df: org.apache.spark.sql.DataFrame) = df
      .select(col("vec_id"), Md5LshBuckets.lshBuckets(col("embedding"), 8, 4).as("b"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1).toSeq).toMap
    val b1 = buckets(emb)
    val b2 = buckets(emb)
    assert(b1 == b2, "bucket ids must be reproducible across runs")
    assert(b1.values.forall(_.size == 4))
    // positive scaling flips no hyperplane sign
    val scaled = emb.select(col("vec_id"),
      expr("transform(embedding, x -> float(x * 3.0))").as("embedding"))
    assert(buckets(scaled) == b1)
  }
}
