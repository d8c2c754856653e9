package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.ops.Neutral

/** Behavioral coverage for the md5-seeded (oracle-reproducible) dedup/ANN
  * twins in graft.ops.Neutral: same planted-duplicate recall expectations
  * as the xxhash64 kernel forms in OpsSpec. Cross-engine bit-parity is
  * covered by the driver's DuckDB gate (the queries emit bucket ids
  * precisely so the gate hashes the bucket computation itself).
  */
class NeutralSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", 4)
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  import spark.implicits._

  lazy val docsWithDups: DataFrame = {
    val base = graft.queries.T.documents(spark, "/root/testdata/sf0.001")
    val planted = base.filter(col("doc_id") < 2)
      .select((col("doc_id") + 10000).as("doc_id"),
        concat(col("text"), lit(" extra tail")).as("text"),
        col("lang"), col("source"), col("n_chars"))
    val exact = base.filter(col("doc_id") === 5)
      .select((col("doc_id") + 20000).as("doc_id"), col("text"),
        col("lang"), col("source"), col("n_chars"))
    base.unionByName(planted).unionByName(exact)
  }

  test("md5 minhash surfaces planted near-duplicates with high jaccard") {
    val cands = Neutral.minHashCandidates(docsWithDups)
      .filter(col("jaccard") >= 0.5)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    assert(cands.contains((0L, 10000L)), s"missing (0,10000) in $cands")
    assert(cands.contains((1L, 10001L)), s"missing (1,10001) in $cands")
    assert(cands.contains((5L, 20005L)), s"missing exact pair in $cands")
  }

  test("cross-source overlap counts a planted cross-source near-dup pair") {
    // plant a near-dup of doc 0 under a DIFFERENT source label; the matrix
    // must count it in the (source(doc0), "planted_src") cell
    val base = graft.queries.T.documents(spark, "/root/testdata/sf0.001")
    val doc0src = base.filter(col("doc_id") === 0)
      .select("source").as[String].head()
    val planted = base.filter(col("doc_id") === 0)
      .select((col("doc_id") + 30000).as("doc_id"),
        concat(col("text"), lit(" tiny tail")).as("text"),
        col("lang"), lit("planted_src").as("source"), col("n_chars"))
    val out = Neutral.crossSourceOverlap(base.unionByName(planted))
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    val key = if (doc0src < "planted_src") (doc0src, "planted_src")
              else ("planted_src", doc0src)
    assert(out.getOrElse(key, 0L) >= 1L,
      s"planted cross-source pair not counted: $out")
    // every cell is unordered-canonical: source_a <= source_b
    assert(out.keys.forall { case (a, b) => a <= b })
  }

  test("md5 simhash marks the exact duplicate as near (hamming 0)") {
    val near = Neutral.simHashNearDups(docsWithDups)
      .filter(col("doc_id").isin(5L, 20005L))
      .select("doc_id", "n_near").as[(Long, Long)].collect().toMap
    assert(near(5L) >= 1, s"exact dup not near: $near")
    assert(near(20005L) >= 1)
  }

  test("md5 sign-LSH cosine near-dup finds a planted colinear vector") {
    val emb = graft.queries.T.embeddings(spark, "/root/testdata/sf0.001")
    // scaled copy: exactly colinear, and doubling is exact in IEEE so every
    // hyperplane sign — hence every bucket — is preserved
    val planted = emb.filter(col("vec_id") === 0)
      .select(lit(100000L).as("vec_id"),
        expr("transform(embedding, x -> float(x * 2.0))").as("embedding"),
        col("label"))
    val withPlant = emb.unionByName(planted)
    val counts = Neutral.cosineNearDupCounts(withPlant, 0.8)
      .filter(col("vec_id").isin(0L, 100000L))
      .select("vec_id", "n_near").as[(Long, Long)].collect().toMap
    assert(counts(0L) >= 1, s"planted pair missed: $counts")
    assert(counts(100000L) >= 1)
  }

  test("auto LSH depth: base 8 at every oracle scale, occupancy-pinned " +
      "above, and auto == explicit-8 on small corpora") {
    // the static-oracle contract: every driver scale derives exactly 8
    assert(Neutral.lshBitsFor(500) == 8)      // sf0.01 embeddings
    assert(Neutral.lshBitsFor(2000) == 8)     // sf0.1 embeddings
    assert(Neutral.lshBitsFor(4096) == 8)     // last n where 8 suffices
    // above that, depth tracks ceil(2·log2(n)) - 16 (the all-pairs LSH
    // parameter rule: pins expected random collisions, not occupancy)
    assert(Neutral.lshBitsFor(20000) == 13)   // sf1 generated
    assert(Neutral.lshBitsFor(200000) == 20)  // sf10 generated
    assert(Neutral.lshBitsFor(1L << 40) == 30) // hard cap
    // auto nbits=0 must be bit-identical to explicit 8 at oracle scale
    val emb = graft.queries.T.embeddings(spark, "/root/testdata/sf0.001")
    def rows(nbits: Int) =
      Neutral.cosineNearDupCounts(emb, 0.8, nbits = nbits)
        .collect().map(_.toSeq).toSet
    assert(rows(0) == rows(8),
      "auto depth must reproduce the static oracle depth at small n")
  }

  test("md5 sign-LSH topk ranks the planted colinear copy first") {
    val emb = graft.queries.T.embeddings(spark, "/root/testdata/sf0.001")
    val planted = emb.filter(col("vec_id") === 0)
      .select(lit(100000L).as("vec_id"),
        expr("transform(embedding, x -> float(x * 2.0))").as("embedding"),
        col("label"))
    val withPlant = emb.unionByName(planted)
    val top = Neutral.lshTopK(withPlant, Seq(0L), k = 3)
      .filter(col("query_id") === 0 && col("rank") === 1)
      .select("neighbor_id").as[Long].collect()
    assert(top.sameElements(Array(100000L)), s"rank-1 was ${top.toSeq}")
  }

  test("clustered corpus dedup keeps one survivor per transitive component") {
    // hub cluster via shared prefix: a = X+Y, b = X+Z, hub = X+Y+Z. With
    // 20-word segments: jaccard(a,hub) ≈ 0.66 and jaccard(b,hub) ≈ 0.60
    // (both near-dups at 0.45) while jaccard(a,b) ≈ 0.31 (not). Pair-level
    // dropping keeps {a, b}; the clustered policy keeps only a. The word
    // prefixes are chosen so the FIXED md5 banding seeds give both near
    // pairs a shared band (verified: 1 band each, 0 for the far pair) —
    // at jaccard ~0.6 a 16x4 banding hits with p ~0.89 per pair, so an
    // arbitrary fixture could deterministically miss.
    def seg(p: String) = (0 until 20).map(i => s"$p$i").mkString(" ")
    val (xx, yy, zz) = (seg("alpha"), seg("bravo"), seg("carbon"))
    val docs = Seq(
      (100L, s"$xx $yy"), (101L, s"$xx $zz"), (102L, s"$xx $yy $zz"),
      (103L, "completely unrelated text with many distinct words here now"))
      .toDF("doc_id", "text")
      .withColumn("lang", lit("en")).withColumn("source", lit("t"))
      .withColumn("n_chars", length(col("text")))
    val keptClustered = graft.ops.Neutral
      .dedupCorpusClustered(docs, minJaccard = 0.45)
      .select("doc_id").as[Long].collect().toSet
    assert(keptClustered == Set(100L, 103L), s"got $keptClustered")
    val keptPairwise = graft.ops.Dedup.dedupCorpus(docs, minJaccard = 0.45)
      .select("doc_id").as[Long].collect().toSet
    // pair-level policy keeps the non-near pair {100, 101} — both valid
    // semantics, different guarantees (see Neutral scaladoc)
    assert(keptPairwise == Set(100L, 101L, 103L), s"got $keptPairwise")
  }

  test("quality survivor policy keeps the longest component member, not the min id") {
    // same hub cluster as above: component {100, 101, 102} with hub doc
    // 102 the LONGEST (X+Y+Z vs X+Y / X+Z). The min-id policy keeps 100;
    // the quality policy must keep 102 instead. Singleton 103 survives
    // under both.
    def seg(p: String) = (0 until 20).map(i => s"$p$i").mkString(" ")
    val (xx, yy, zz) = (seg("alpha"), seg("bravo"), seg("carbon"))
    val docs = Seq(
      (100L, s"$xx $yy"), (101L, s"$xx $zz"), (102L, s"$xx $yy $zz"),
      (103L, "completely unrelated text with many distinct words here now"))
      .toDF("doc_id", "text")
      .withColumn("lang", lit("en")).withColumn("source", lit("t"))
      .withColumn("n_chars", length(col("text")))
    val kept = graft.ops.Neutral
      .dedupCorpusClusteredQuality(docs, minJaccard = 0.45)
      .select("doc_id").as[Long].collect().toSet
    assert(kept == Set(102L, 103L), s"got $kept")
  }

  test("fuzzy decontamination flags near-dups of benchmark docs, not the bench itself") {
    def seg(p: String) = (0 until 20).map(i => s"$p$i").mkString(" ")
    val (xx, yy) = (seg("alpha"), seg("bravo"))
    val docs = Seq(
      (1L, s"$xx $yy"),                            // the benchmark doc
      (50L, s"$xx $yy extra trailing words here"), // paraphrase-level copy
      (51L, seg("carbon")))                        // unrelated
      .toDF("doc_id", "text")
    val out = graft.ops.Neutral
      .fuzzyDecontaminate(docs, docs.filter(col("doc_id") < 10),
        minJaccard = 0.45)
      .orderBy("doc_id")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2)))
    assert(out.toSeq == Seq(
      (1L, 0L, false),   // self-pair excluded
      (50L, 1L, true),
      (51L, 0L, false)))
  }

  test("leakage-safe split keeps every near-dup cluster in one split") {
    // the hub cluster {100, 101, 102} plus a singleton; per-doc hashing
    // would scatter the cluster (buckets 66/18/27 — train is not unanimous),
    // the cluster-atomic split must not
    def seg(p: String) = (0 until 20).map(i => s"$p$i").mkString(" ")
    val (xx, yy, zz) = (seg("alpha"), seg("bravo"), seg("carbon"))
    val docs = Seq(
      (100L, s"$xx $yy"), (101L, s"$xx $zz"), (102L, s"$xx $yy $zz"),
      (103L, "completely unrelated text with many distinct words here now"))
      .toDF("doc_id", "text")
    val perDocBuckets = docs
      .select(graft.ops.Sampling.splitBucket(col("doc_id")).as("b"))
      .as[Long].collect()
    assert(perDocBuckets.slice(0, 3).distinct.length > 1,
      "fixture must have per-doc buckets that would scatter the cluster")
    val out = graft.ops.Neutral.leakageSafeSplit(docs, minJaccard = 0.45)
      .orderBy("doc_id")
      .select("doc_id", "component", "split")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
    val cluster = out.filter(_._1 < 103L)
    assert(cluster.map(_._2).distinct.toSeq == Seq(100L),
      s"cluster not unified: ${cluster.toSeq}")
    assert(cluster.map(_._3).distinct.length == 1,
      s"cluster split across sets: ${cluster.toSeq}")
    assert(out.find(_._1 == 103L).get._2 == 103L)
  }

  test("incremental dedup admits fresh docs, rejects exact and near dups of the corpus") {
    val corpus = graft.queries.T.documents(spark, "/root/testdata/sf0.001")
    val incoming = corpus.filter(col("doc_id") === 7)
      .select(lit(50000L).as("doc_id"), col("text"), col("lang"),
        col("source"), col("n_chars")) // exact copy of corpus doc 7
      .unionByName(corpus.filter(col("doc_id") === 8)
        .select(lit(50001L).as("doc_id"),
          concat(col("text"), lit(" extra tail")).as("text"),
          col("lang"), col("source"), col("n_chars"))) // near dup of doc 8
      .unionByName(Seq((50002L,
        "entirely fresh content nothing like the corpus at all zebra quark",
        "en", "t", 64L))
        .toDF("doc_id", "text", "lang", "source", "n_chars"))
    val kept = graft.ops.Neutral.dedupAgainst(corpus, incoming, minJaccard = 0.5)
      .select("doc_id").as[Long].collect().toSet
    assert(kept == Set(50002L), s"got $kept")
  }

  test("ingest e2e chains the admission filter with within-batch dedup") {
    val corpus = graft.queries.T.documents(spark, "/root/testdata/sf0.001")
    // incoming: a near-dup of corpus doc 8 (admission must drop it), an
    // exact within-batch pair (50003/50004 — admission keeps BOTH, the
    // within-batch stage keeps the min id), and one fresh doc
    val incoming = corpus.filter(col("doc_id") === 8)
      .select(lit(50001L).as("doc_id"),
        concat(col("text"), lit(" extra tail")).as("text"),
        col("lang"), col("source"), col("n_chars"))
      .unionByName(Seq(
        (50003L, "entirely fresh content nothing like the corpus at all zebra quark", "en", "t", 64L),
        (50004L, "entirely fresh content nothing like the corpus at all zebra quark", "en", "t", 64L),
        (50005L, "another genuinely new document speaking of unrelated affairs today", "en", "t", 66L))
        .toDF("doc_id", "text", "lang", "source", "n_chars"))
    val kept = graft.ops.Neutral.ingestE2e(corpus, incoming, minJaccard = 0.5)
      .select("doc_id").as[Long].collect().toSet
    assert(kept == Set(50003L, 50005L), s"got $kept")
    // admission alone keeps the within-batch duplicate — proving the
    // second stage is what removes it
    val admittedOnly = graft.ops.Neutral
      .dedupAgainst(corpus, incoming, minJaccard = 0.5)
      .select("doc_id").as[Long].collect().toSet
    assert(admittedOnly == Set(50003L, 50004L, 50005L), s"got $admittedOnly")
  }

  test("served admission from the persisted index equals the in-flight form") {
    val corpus = graft.queries.T.documents(spark, "/root/testdata/sf0.001")
    val incoming = corpus.filter(col("doc_id") === 7)
      .select(lit(50000L).as("doc_id"), col("text"), col("lang"),
        col("source"), col("n_chars"))
      .unionByName(corpus.filter(col("doc_id") === 8)
        .select(lit(50001L).as("doc_id"),
          concat(col("text"), lit(" extra tail")).as("text"),
          col("lang"), col("source"), col("n_chars")))
      .unionByName(Seq(
        (50003L, "entirely fresh content nothing like the corpus at all zebra quark", "en", "t", 64L),
        (50004L, "entirely fresh content nothing like the corpus at all zebra quark", "en", "t", 64L))
        .toDF("doc_id", "text", "lang", "source", "n_chars"))
    val dir = java.nio.file.Files.createTempDirectory("graft_model_").toString
    graft.ops.Neutral.dedupIndexBuild(corpus, dir)
    val served = graft.ops.Neutral
      .dedupAgainstServed(spark, dir, incoming, minJaccard = 0.5)
      .select("doc_id").as[Long].collect().toSet
    val inflight = graft.ops.Neutral
      .dedupAgainst(corpus, incoming, minJaccard = 0.5)
      .select("doc_id").as[Long].collect().toSet
    assert(served == inflight, s"served $served != in-flight $inflight")
    // the full chain too: admission + within-batch clustered dedup
    val servedE2e = graft.ops.Neutral
      .ingestE2eServed(spark, dir, incoming, minJaccard = 0.5)
      .select("doc_id").as[Long].collect().toSet
    val inflightE2e = graft.ops.Neutral
      .ingestE2e(corpus, incoming, minJaccard = 0.5)
      .select("doc_id").as[Long].collect().toSet
    assert(servedE2e == inflightE2e,
      s"served e2e $servedE2e != in-flight $inflightE2e")
    // e2e collapses the within-batch exact pair admission alone keeps
    assert(servedE2e == Set(50003L), s"got $servedE2e")
  }

  test("bloom admission: exact duplicates always rejected (no false " +
      "negatives), fresh docs admitted at the planted density") {
    val corpus = graft.queries.T.documents(spark, "/root/testdata/sf0.001")
      .filter(col("doc_id") < 250)
    val incoming = corpus.filter(col("doc_id") === 3)
      .select(lit(70000L).as("doc_id"), col("text"), col("lang"),
        col("source"), col("n_chars")) // byte-identical corpus text
      .unionByName(Seq(
        (70001L, "entirely fresh content nothing like the corpus at all zebra quark", "en", "t", 64L))
        .toDF("doc_id", "text", "lang", "source", "n_chars"))
    val dir = java.nio.file.Files.createTempDirectory("graft_model_").toString
    Neutral.bloomIndexBuild(corpus, dir)
    val got = Neutral.admitBloomServed(spark, dir, incoming).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getBoolean(2)))).toMap
    // the true duplicate hits ALL k positions — the no-FN guarantee
    assert(got(70000L) == ((Neutral.BloomK.toLong, false)),
      s"exact duplicate not rejected: ${got(70000L)}")
    // at ~125 docs x 4 positions in 2^20 bits, FP probability is ~1e-13:
    // the fresh doc must be admitted
    assert(got(70001L)._2, s"fresh doc rejected: ${got(70001L)}")
    // the artifact is position-bounded: |occupied| <= k * |corpus|
    val occ = graft.ops.Models.load(spark, dir, "bloom").count()
    assert(occ <= Neutral.BloomK * corpus.count() && occ > 0)
  }

  test("bloom append: batch 2's copy of a batch-1 admission is rejected") {
    val corpus = graft.queries.T.documents(spark, "/root/testdata/sf0.001")
      .filter(col("doc_id") < 250)
    val freshText =
      "entirely fresh content nothing like the corpus at all zebra quark"
    val batch1 = Seq((80001L, freshText, "en", "t", 64L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val batch2 = Seq(
      (80002L, freshText, "en", "t", 64L), // dup of batch 1's admission
      (80003L, "another genuinely new document xylophone gamma", "en", "t", 46L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val dir = java.nio.file.Files.createTempDirectory("graft_model_").toString
    Neutral.bloomIndexBuild(corpus, dir)
    val a1 = Neutral.admitBloomAndAppend(spark, dir, batch1)
      .select("doc_id").as[Long].collect().toSet
    assert(a1 == Set(80001L))
    val a2 = Neutral.admitBloomAndAppend(spark, dir, batch2)
      .select("doc_id").as[Long].collect().toSet
    assert(a2 == Set(80003L),
      s"batch 2 must reject the batch-1 admission's copy: $a2")
    graft.ops.Pins.releaseAll()
  }

  test("appended admissions: batch 2 is deduped against batch 1's admissions") {
    val corpus = graft.queries.T.documents(spark, "/root/testdata/sf0.001")
    val batch1 = Seq(
      (60001L, "entirely fresh content nothing like the corpus at all zebra quark", "en", "t", 64L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val batch2 = Seq(
      (60002L, "entirely fresh content nothing like the corpus at all zebra quark with tail", "en", "t", 74L),
      (60003L, "another genuinely new document speaking of unrelated affairs today", "en", "t", 66L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    // counterfactual first: against a NON-appended index, batch 2's
    // near-dup of batch 1's admission slips straight through — that gap
    // is exactly what the append contract closes
    val stale = java.nio.file.Files.createTempDirectory("graft_model_").toString
    graft.ops.Neutral.dedupIndexBuild(corpus, stale)
    val noAppend = graft.ops.Neutral
      .dedupAgainstServed(spark, stale, batch2, minJaccard = 0.5)
      .select("doc_id").as[Long].collect().toSet
    assert(noAppend == Set(60002L, 60003L), s"got $noAppend")
    // the daily-crawl loop: admit batch 1 (appending its signatures),
    // then batch 2 — the near-dup of batch 1's admission is now caught
    val dir = java.nio.file.Files.createTempDirectory("graft_model_").toString
    graft.ops.Neutral.dedupIndexBuild(corpus, dir)
    val adm1 = graft.ops.Neutral.admitAndAppend(spark, dir, batch1, minJaccard = 0.5, batchId = 1L)
      .select("doc_id").as[Long].collect().toSet
    assert(adm1 == Set(60001L), s"got $adm1")
    val adm2 = graft.ops.Neutral.admitAndAppend(spark, dir, batch2, minJaccard = 0.5, batchId = 2L)
      .select("doc_id").as[Long].collect().toSet
    assert(adm2 == Set(60003L), s"batch 2 near-dup not deduped: $adm2")
  }

  test("random projection is exactly linear under power-of-two scaling") {
    val emb = graft.queries.T.embeddings(spark, "/root/testdata/sf0.001")
      .filter(col("vec_id") < 50)
    val doubled = emb.select(col("vec_id"),
      expr("transform(embedding, x -> float(x * 2.0))").as("embedding"))
    val p1 = graft.ops.Neutral.randomProjectFlat(emb, outDim = 4)
      .orderBy("vec_id", "pos").select("v").as[Double].collect()
    val p2 = graft.ops.Neutral.randomProjectFlat(doubled, outDim = 4)
      .orderBy("vec_id", "pos").select("v").as[Double].collect()
    // float doubling and the per-term double products/sums all scale by an
    // exact power of two, so proj(2v) == 2*proj(v) BIT-exactly
    assert(p1.map(_ * 2.0).sameElements(p2), "projection not exactly linear")
  }

  test("kernel bit-compat: Md5MinHashSig equals the built-in-functions form") {
    val docs = graft.queries.T.documents(spark, "/root/testdata/sf0.001")
    val sh = docs.select(col("doc_id"),
        graft.expr.ShingleStrings.shingleStrings(col("text"), 3).as("s"))
      .filter(size(col("s")) > 0)
    val mismatch = sh.select(
        graft.expr.Md5MinHashSig.minHashSig(col("s")).as("k"),
        graft.ops.Neutral.minHashSigRef(col("s")).as("r"))
      .filter(col("k") =!= col("r"))
      .count()
    assert(mismatch == 0, s"$mismatch docs with kernel/reference signature mismatch")
  }

  test("kernel bit-compat: Md5LshBuckets equals the built-in-functions form") {
    val emb = graft.queries.T.embeddings(spark, "/root/testdata/sf0.001")
    // plant a vector with one null element: both forms must yield null,
    // never a bucket computed as if the element were 0.0
    val holed = emb.filter(col("vec_id") === 0)
      .select((col("vec_id") + 100000L).as("vec_id"),
        transform(col("embedding"), (x, i) => when(i === 3, lit(null)).otherwise(x))
          .as("embedding"),
        col("label"))
    val mismatch = emb.unionByName(holed).select(
        graft.expr.Md5LshBuckets.lshBuckets(col("embedding"), 8, 4).as("k"),
        graft.ops.Neutral.lshBucketsRef(col("embedding"), 8, 4).as("r"))
      .filter(not(col("k") <=> col("r")))
      .count()
    assert(mismatch == 0, s"$mismatch vectors with kernel/reference bucket mismatch")
    val holedBuckets = holed
      .select(graft.expr.Md5LshBuckets.lshBuckets(col("embedding"), 8, 4))
      .head()
    assert(holedBuckets.isNullAt(0),
      s"a null element must null the buckets, got ${holedBuckets.get(0)}")
  }

  test("kernel bit-compat: Md5Winnow equals the built-in-functions form") {
    val docs = graft.queries.T.documents(spark, "/root/testdata/sf0.001")
      // plant a short text to exercise the < k null arm
      .unionByName(Seq((90000L, "tiny", "en", "t", 4L))
        .toDF("doc_id", "text", "lang", "source", "n_chars"))
    val mismatch = docs.select(
        graft.expr.Md5Winnow.md5Winnow(col("text"), 8, 8).as("k"),
        graft.ops.TextAnalysis.winnowRef("text").as("r"))
      .filter(not(col("k") <=> col("r")))
      .count()
    assert(mismatch == 0, s"$mismatch docs with kernel/reference winnow mismatch")
  }

  test("md5 minhash hot-bucket cap skips oversized buckets, keeps small ones") {
    // 30 identical docs flood every (band, bucket) they touch; a distinct
    // near-dup pair lives in small buckets and must survive the cap
    val heavy = (0 until 30)
      .map(i => (1000L + i, "alpha beta gamma delta epsilon zeta eta theta"))
    val light = Seq(
      (1L, "one two three four five six seven eight nine ten eleven twelve"),
      (2L, "one two three four five six seven eight nine ten eleven dozen"))
    val docs = (heavy ++ light).toDF("doc_id", "text")
      .withColumn("lang", lit("en")).withColumn("source", lit("t"))
      .withColumn("n_chars", length(col("text")))
    val capped = graft.ops.Neutral
      .minHashCandidates(docs, starCap = Some(10))
      .filter(col("jaccard") >= 0.5)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    assert(capped.contains((1L, 2L)), s"small-bucket pair lost: $capped")
    // the oversized bucket emits only its hub edges: rep 1000 -> member
    val hub = (1001L to 1029L).map(b => (1000L, b)).toSet
    assert(capped.filter(p => p._1 >= 1000 && p._2 >= 1000) == hub,
      s"oversized bucket should emit exactly the 29 hub edges: $capped")
    // uncapped finds the flood pairs (30*29/2 of them)
    val uncapped = graft.ops.Neutral.minHashCandidates(docs)
      .filter(col("jaccard") >= 0.5).count()
    assert(uncapped >= 435, s"uncapped should see the flood: $uncapped")
  }

  test("dimension guards fire on embeddings wider than the sign tables") {
    // 200-dim > lshMaxDim (128): before the guards, slice() truncated the
    // sign vector and zip_with null-padded, so buckets/projections came out
    // NULL — broken blocking with no error. Now every path fails fast.
    val wide = Seq((0L, (0 until 200).map(_.toFloat).toArray))
      .toDF("vec_id", "embedding")
    def msgOf(t: Throwable): String = {
      var c: Throwable = t
      val sb = new StringBuilder
      while (c != null) { sb.append(c.getMessage).append('\n'); c = c.getCause }
      sb.toString
    }
    val eProj = intercept[Exception] {
      Neutral.randomProjectFlat(wide, outDim = 2).collect()
    }
    assert(msgOf(eProj).contains("exceeds the precomputed sign table"), msgOf(eProj))
    val eRef = intercept[Exception] {
      wide.select(Neutral.lshBucketsRef(col("embedding"), 8, 4)).collect()
    }
    assert(msgOf(eRef).contains("exceeds the precomputed sign table"), msgOf(eRef))
    val eKernel = intercept[Exception] {
      wide.select(Neutral.lshBuckets(col("embedding"), 8, 4)).collect()
    }
    assert(msgOf(eKernel).contains("exceeds the precomputed sign table"), msgOf(eKernel))
    // and the boundary case still works: exactly lshMaxDim dims is fine
    val atMax = Seq((0L, (0 until Neutral.lshMaxDim).map(_.toFloat).toArray))
      .toDF("vec_id", "embedding")
    assert(Neutral.randomProjectFlat(atMax, outDim = 2).count() == 2)
  }

  test("md5 minhash candidate verification never admits a below-threshold pair") {
    // verified jaccard is exact, so filtering at 0.9 keeps only the exact dup
    val strict = Neutral.minHashCandidates(docsWithDups)
      .filter(col("jaccard") >= 0.9999)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    assert(strict == Set((5L, 20005L)), s"unexpected pairs: $strict")
  }
}
