package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.ops.{Dedup, Multimodal, Sampling, Similarity, TextAnalysis}

/** Behavioral tests for the LLM-pipeline operators: planted near-duplicates
  * must be found, ANN recall must be sane vs brute force, the multimodal
  * batch path must round-trip.
  */
class OpsSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", 4)
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  import spark.implicits._

  /** testdata docs + two planted near-duplicate pairs and one exact dup. */
  lazy val docsWithDups: DataFrame = {
    val base = graft.queries.T.documents(spark, "/root/testdata/sf0.001")
    val planted = base.filter(col("doc_id") < 2)
      .select((col("doc_id") + 10000).as("doc_id"),
        // near-dup: append two words to an existing text
        concat(col("text"), lit(" extra tail")).as("text"),
        col("lang"), col("source"), col("n_chars"))
    val exact = base.filter(col("doc_id") === 5)
      .select((col("doc_id") + 20000).as("doc_id"), col("text"),
        col("lang"), col("source"), col("n_chars"))
    base.unionByName(planted).unionByName(exact)
  }

  test("exact dedup finds the planted exact duplicate") {
    val groups = Dedup.exactGroups(docsWithDups)
    assert(groups.filter(col("n_copies") === 2).count() == 1)
    val survivor = groups.filter(col("n_copies") === 2)
      .select("keep_doc_id").as[Long].head()
    assert(survivor == 5L)
  }

  test("minhash LSH surfaces planted near-duplicates with high jaccard") {
    val cands = Dedup.minHashCandidates(docsWithDups)
      .filter(col("jaccard") >= 0.5)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    assert(cands.contains((0L, 10000L)), s"missing (0,10000) in $cands")
    assert(cands.contains((1L, 10001L)), s"missing (1,10001) in $cands")
    assert(cands.contains((5L, 20005L)), s"missing exact pair in $cands")
  }

  test("minhash hot-bucket cap skips oversized buckets, keeps small ones") {
    // 30 identical docs: their (band, bucket) groups all hold 30 members
    val heavy = (0 until 30)
      .map(i => (1000L + i, "alpha beta gamma delta epsilon zeta eta theta"))
    val light = Seq(
      (1L, "one two three four five six seven eight"),
      (2L, "one two three four five six seven nine"))
    val docs = (heavy ++ light).toDF("doc_id", "text")
    val capped = Dedup.minHashCandidates(docs, starCap = Some(10))
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    // the oversized bucket emits only its hub edges: rep 1000 -> member
    val hub = (1001L to 1029L).map(b => (1000L, b)).toSet
    assert(capped.filter { case (a, b) => a >= 1000L && b >= 1000L } == hub,
      s"oversized bucket must emit exactly the 29 hub edges: $capped")
    assert(capped.contains((1L, 2L)), "small buckets must still pair")
    // default (no cap) still finds the heavy group
    val uncapped = Dedup.minHashCandidates(docs)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    assert(uncapped.exists { case (a, b) => a >= 1000L && b >= 1000L })
  }

  test("ngram jaccard best-match finds the planted duplicates") {
    // note: the corpus has NATURAL near-dups (e.g. docs 0 and 82 at
    // jaccard 0.95), so doc 0's best match may beat the planted 0.91 pair;
    // assert on the planted docs' side, where the planted source IS best
    val best = Dedup.ngramJaccardBestMatch(docsWithDups)
      .filter(col("doc_id").isin(10000L, 20005L, 5L))
      .select("doc_id", "best_match_id", "best_jaccard")
      .as[(Long, Option[Long], Option[Double])]
      .collect().map(r => r._1 -> ((r._2, r._3))).toMap
    assert(best(10000L)._1.contains(0L))
    assert(best(10000L)._2.exists(_ > 0.85))
    assert(best(20005L)._1.contains(5L)) // exact dup: jaccard 1.0
    assert(best(20005L)._2.contains(1.0))
    assert(best(5L)._2.contains(1.0))
  }

  test("connected components resolve transitive chains to one cluster id") {
    val pairs = Seq(
      (1L, 2L), (2L, 3L),           // chain: 1-2-3 (1 and 3 not direct)
      (10L, 11L),                   // isolated pair
      (20L, 21L), (21L, 22L), (20L, 22L)) // triangle
      .toDF("doc_a", "doc_b")
    val cc = Dedup.connectedComponents(pairs)
      .select("doc_id", "component").as[(Long, Long)].collect().toMap
    assert(Seq(1L, 2L, 3L).forall(cc(_) == 1L), s"chain not merged: $cc")
    assert(Seq(10L, 11L).forall(cc(_) == 10L))
    assert(Seq(20L, 21L, 22L).forall(cc(_) == 20L))
  }

  test("connected components: the lazy per-iteration checkpoint is " +
      "materialized at return (the convergence sum is the materializing action)") {
    // the loop marks each round's labels as a LAZY localCheckpoint and
    // relies on the fused labelSum action to materialize it; if that
    // fusion is ever broken (sum removed or reordered after the old-pin
    // release), the returned labels would ride a truncated-lineage plan
    // whose blocks aren't persisted yet — pin the contract here
    graft.ops.Pins.releaseAll()
    spark.sharedState.cacheManager.clearCache()
    val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("doc_a", "doc_b")
    val cc = Dedup.connectedComponents(pairs)
    val sc = spark.sparkContext
    val live = sc.getRDDStorageInfo.filter(_.numCachedPartitions > 0)
    assert(live.nonEmpty,
      "no materialized checkpoint blocks at return — the labels checkpoint " +
        "was not persisted by the convergence-sum action")
    // fully materialized, not partially: every persisted partition cached
    assert(live.forall(i => i.numCachedPartitions == i.numPartitions),
      s"partially materialized checkpoint: ${live.mkString(", ")}")
    // and the result is still consumable after the loop's internal releases
    assert(cc.count() == 5)
    graft.ops.Pins.releaseAll()
  }

  test("incremental components: appends that merge, chain-merge, and add " +
      "new nodes serve exactly like CC over the cumulative edges") {
    val b1 = Seq((1L, 2L), (3L, 4L), (10L, 11L)).toDF("doc_a", "doc_b")
    val b2 = Seq(
      (2L, 3L),   // merges {1,2} with {3,4}
      (20L, 21L), // brand-new pair
      (4L, 1L))   // redundant within-component edge
      .toDF("doc_a", "doc_b")
    val b3 = Seq(
      (11L, 20L), // chain-merge: {10,11} with {20,21}
      (21L, 1L))  // then with {1,2,3,4} — exercises multi-hop closure
      .toDF("doc_a", "doc_b")
    val dir = java.nio.file.Files.createTempDirectory("ccinc_").toString
    Dedup.ccBuild(b1, dir)
    Dedup.ccAppend(b2, dir, batchId = 1L)
    Dedup.ccAppend(b3, dir, batchId = 2L)
    def toMap(df: org.apache.spark.sql.DataFrame) = df
      .select("doc_id", "component").as[(Long, Long)].collect().toMap
    val served = toMap(Dedup.ccServe(spark, dir))
    val full = toMap(Dedup.connectedComponents(
      b1.unionByName(b2).unionByName(b3)))
    assert(served == full, s"served=$served full=$full")
    assert(Seq(1L, 2L, 3L, 4L, 10L, 11L, 20L, 21L)
      .forall(served(_) == 1L)) // everything chained down to min id 1
    // an append touching only already-merged nodes is a no-op
    Dedup.ccAppend(Seq((10L, 21L)).toDF("doc_a", "doc_b"), dir, batchId = 3L)
    assert(toMap(Dedup.ccServe(spark, dir)) == full)
    // the load-bearing invariant behind the pointer-jump closure: the
    // merge map stays FUNCTIONAL (a rep merges away at most once) and
    // ACYCLIC (every merge strictly decreases the label, min-label order)
    val merges = spark.read.parquet(s"$dir/merges")
      .select("from_rep", "to_rep").as[(Long, Long)].collect()
    assert(merges.map(_._1).distinct.length == merges.length,
      s"merge map must be functional: $merges")
    assert(merges.forall { case (f, t) => t < f },
      s"every merge must decrease the label: $merges")
    // COMPACTION: labels rewrite resolved, merges reset to empty; serve
    // is identical, and appends after compaction keep working
    Dedup.ccCompact(spark, dir)
    assert(spark.read.parquet(s"$dir/merges").count() == 0L,
      "compaction must reset the merge map")
    assert(toMap(Dedup.ccServe(spark, dir)) == full,
      "serve-after-compact must equal serve-before")
    // post-compaction append: a fresh merge over compacted labels
    Dedup.ccAppend(Seq((30L, 31L), (31L, 1L)).toDF("doc_a", "doc_b"), dir,
      batchId = 4L)
    val after = toMap(Dedup.ccServe(spark, dir))
    assert(after(30L) == 1L && after(31L) == 1L,
      s"append after compaction must keep merging: $after")
    assert(after.view.filterKeys(_ < 30).toMap == full)
    // ledger: build + 3 appends folded to 1 by compaction, +1 after
    val g = graft.ops.Models.genStats(spark, dir).head()
    assert(g.getLong(0) == 2L,
      s"expected compacted ledger + one post-compaction generation: $g")
  }

  test("kNN graph: planted tight clusters route perfectly — every " +
      "neighbor from the vector's own cluster, recall 1.0 at nprobe=1") {
    import spark.implicits._
    // 3 well-separated clusters of 8, tiny within-cluster jitter: with
    // structure present (unlike the near-uniform gate corpus) routing is
    // exact and the graph equals brute force
    val base = Map(0 -> Array(1f, 0f, 0f, 0f), 1 -> Array(0f, 1f, 0f, 0f),
      2 -> Array(0f, 0f, 1f, 0f))
    val vecs = (0L until 24L).map { id =>
      val c = (id % 3).toInt
      val eps = 0.01f * (id / 3 + 1)
      val v = base(c).clone()
      v((c + 1) % 4) += eps // deterministic jitter off the cluster axis
      (id, v, c)
    }.toDF("vec_id", "embedding", "label")
    val g = graft.ops.Similarity.knnGraph(vecs, k = 3, nprobe = 1)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toSeq
    assert(g.size == 24 * 3, s"expected a full 3-regular graph, got ${g.size}")
    assert(g.forall { case (v, n) => v % 3 == n % 3 },
      "a neighbor crossed cluster boundaries despite planted separation")
    // with structure, routed == exact
    val exact = graft.ops.Similarity
      .bruteForceTopK(vecs, (0L until 24L), 3)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    assert(g.toSet == exact, "routed graph diverges from brute force " +
      "on clearly clustered data")
  }

  test("ivf and admission-index compaction: fewer files, identical " +
      "answers, ledgers folded") {
    val docs = graft.queries.T.documents(spark, "/root/testdata/sf0.001")
    val emb = graft.queries.T.embeddings(spark, "/root/testdata/sf0.001")
    def allParquet(path: String): Int = {
      val b = new java.io.File(path)
      if (!b.exists) 0
      else b.listFiles.map(f =>
        if (f.isDirectory) allParquet(f.getPath)
        else if (f.getName.endsWith(".parquet")) 1 else 0).sum
    }
    // IVF: build + append, compact — probed results identical, per-label
    // directories fold to fewer files, ledger says one generation
    val idir = java.nio.file.Files.createTempDirectory("ivf_cmp_").toString
    graft.ops.Similarity.ivfBuild(emb.filter(col("vec_id") % 5 =!= 0), idir)
    graft.ops.Similarity.ivfAppend(spark,
      emb.filter(col("vec_id") % 5 === 0), idir, batchId = 9L)
    val qs = emb.filter(col("vec_id") < 5)
      .select(col("vec_id").as("query_id"), col("embedding"))
    def ivfRes() = graft.ops.Similarity.ivfServe(spark, idir, qs, 3, 2)
      .collect().map(_.toSeq).toSet
    val beforeIvf = ivfRes()
    val filesBefore = allParquet(s"$idir/lists")
    graft.ops.Similarity.ivfCompact(spark, idir)
    assert(allParquet(s"$idir/lists") < filesBefore,
      s"ivf compaction did not shrink files: $filesBefore")
    assert(ivfRes() == beforeIvf, "ivf compaction changed served results")
    val gi = graft.ops.Models.genStats(spark, idir).head()
    assert(gi.getLong(0) == 1L && gi.getLong(1) == 9L,
      "ivf ledger must fold to one generation keeping the last batch id")
    // admission index: build + append, compact — admissions identical
    val ddir = java.nio.file.Files.createTempDirectory("didx_cmp_").toString
    graft.ops.Neutral.dedupIndexBuild(
      docs.filter(col("doc_id") >= 250 && col("doc_id") % 2 === 0), ddir)
    graft.ops.Neutral.dedupIndexAppend(
      docs.filter(col("doc_id") >= 250 && col("doc_id") % 2 =!= 0), ddir,
      batchId = 4L)
    def admits() = graft.ops.Neutral.dedupAgainstServed(spark, ddir,
        docs.filter(col("doc_id") < 250), minJaccard = 0.8)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val beforeAdm = admits()
    graft.ops.Neutral.dedupIndexCompact(spark, ddir)
    assert(admits() == beforeAdm,
      "admission-index compaction changed admissions")
    val gd = graft.ops.Models.genStats(spark, ddir).head()
    assert(gd.getLong(0) == 1L && gd.getLong(1) == 4L)
  }

  test("dedupCorpus drops exact and near duplicates, keeps the rest") {
    val deduped = Dedup.dedupCorpus(docsWithDups, minJaccard = 0.85)
    val ids = deduped.select("doc_id").as[Long].collect().toSet
    assert(!ids.contains(20005L), "exact duplicate must drop (keep min id)")
    assert(ids.contains(5L))
    assert(!ids.contains(10000L), "near-dup (jaccard ~0.91) must drop the larger id")
    assert(ids.contains(1L) || ids.contains(10001L))
    // the sf0.001 corpus has ~25 NATURAL near-dup pairs at jaccard >= 0.85
    // (e.g. docs 0/82 at 0.95) — drops beyond the planted ones are real
    assert(deduped.count() >= docsWithDups.count() - 40)
  }

  test("simhash marks the exact duplicate as near (hamming 0)") {
    val near = graft.ops.Neutral.simHashNearDups(docsWithDups)
      .filter(col("doc_id").isin(5L, 20005L))
      .select("n_near").as[Long].collect()
    assert(near.forall(_ >= 1))
  }

  test("multi-table simhash probing finds pairs differing in a prefix bit") {
    // bit 60 (bit 28 of the high half) lives in the old single-table
    // 16-bit prefix: flipping it used to move the doc to another bucket
    // and the pair was never compared
    val base = 0x0123456789abcdefL
    def halves(id: Long, sig: Long) = (id, sig & 0xffffffffL, sig >>> 32)
    val sigs = Seq(
      halves(1L, base),
      halves(2L, base ^ (1L << 60)),
      halves(3L, 0x7edcba9876543210L)).toDF("doc_id", "sim_lo", "sim_hi")
    val near = graft.ops.Neutral.simHashNearDupsFromSig(sigs, maxHamming = 3)
      .select("doc_id", "n_near").as[(Long, Long)].collect().toMap
    assert(near(1L) == 1, s"hamming-1 prefix pair missed: $near")
    assert(near(2L) == 1)
    assert(near(3L) == 0)
  }

  test("LSH-blocked cosine near-dup finds a planted near-identical vector") {
    val emb = graft.queries.T.embeddings(spark, "/root/testdata/sf0.001")
    // scaled copy: exactly colinear (cos = 1) and scaling preserves every
    // hyperplane sign, so it must land in vec 0's bucket in every table
    val planted = emb.filter(col("vec_id") === 0)
      .select(lit(100000L).as("vec_id"),
        expr("transform(embedding, x -> float(x * 2.0))").as("embedding"),
        col("label"))
    val withPlant = emb.unionByName(planted)
    val approx = graft.ops.Neutral.cosineNearDupCounts(withPlant, 0.8)
      .filter(col("vec_id").isin(0L, 100000L))
      .select("vec_id", "n_near").as[(Long, Long)].collect().toMap
    assert(approx(0L) >= 1, s"planted pair missed: $approx")
    assert(approx(100000L) >= 1)
    // no false positives: blocked counts never exceed the exact all-pairs
    // counts (candidates are verified with the exact kernel)
    val slice = emb.filter(col("vec_id") < 100)
    val a = graft.ops.Neutral.cosineNearDupCounts(slice, 0.8)
      .select("vec_id", "n_near").as[(Long, Long)].collect().toMap
    val e = graft.ops.Similarity.cosineNearDupCountsExact(slice, 0.8)
      .select("vec_id", "n_near").as[(Long, Long)].collect().toMap
    assert(a.keySet == e.keySet)
    a.foreach { case (id, n) => assert(n <= e(id), s"false positive at $id") }
  }

  test("LSH-blocked near-dup recall on realistic perturbed copies") {
    val emb = graft.queries.T.embeddings(spark, "/root/testdata/sf0.001")
    // perturbed copies at cos ~0.98 (add 0.2x a rotated copy of the
    // vector): the realistic near-dup regime, where the 4-table S-curve
    // should sit near recall 1
    val planted = emb.filter(col("vec_id") < 20)
      .select((col("vec_id") + 100000L).as("vec_id"),
        expr("""zip_with(embedding,
              |  concat(slice(embedding, 2, size(embedding) - 1), slice(embedding, 1, 1)),
              |  (x, y) -> float(x + 0.2f * y))""".stripMargin).as("embedding"),
        col("label"))
    val all = emb.unionByName(planted)
    def found(df: org.apache.spark.sql.DataFrame): Set[Long] = df
      .filter(col("vec_id") >= 100000L && col("n_near") >= 1)
      .select("vec_id").as[Long].collect().toSet
    val exact = found(graft.ops.Similarity.cosineNearDupCountsExact(all, 0.9))
    val approx = found(graft.ops.Neutral.cosineNearDupCounts(all, 0.9))
    assert(exact.size == 20, s"perturbation drifted below 0.9: ${exact.size}")
    val recall = approx.size.toDouble / exact.size
    assert(recall >= 0.7, s"LSH-blocked recall too low on near-identical pairs: $recall")
  }

  test("IVF routes to the right label and LSH recall is sane vs brute force") {
    val emb = graft.queries.T.embeddings(spark, "/root/testdata/sf0.001")
    val brute = Similarity.bruteForceTopK(emb, Seq(0L, 1L, 2L), 10)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect()
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    // IVF: query's own-label list contains its true nearest neighbors often;
    // check the op returns k results routed to the query's nearest centroid
    val ivf = Similarity.ivfTopK(emb, Seq(0L, 1L, 2L), 3)
    assert(ivf.groupBy("query_id").count().select("count").as[Long]
      .collect().forall(_ == 3))
    // LSH: every returned neighbor shares the query's bucket; recall@10 of
    // the bucket-restricted search vs brute force must be nonzero overall
    val lsh = graft.ops.Neutral.lshTopK(emb, Seq(0L, 1L, 2L), 10)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect()
    val hits = lsh.count { case (q, n) => brute.getOrElse(q, Set()).contains(n) }
    assert(hits > 0, "LSH found none of the brute-force top-10")
  }

  test("IVF append: a planted near-copy appended later is found by the served probe") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.functions.{col => c}
    val emb = graft.queries.T.embeddings(spark, "/root/testdata/sf0.001")
    val dir = java.nio.file.Files.createTempDirectory("ivf_inc").toString
    Similarity.ivfBuild(emb, dir)
    // the appended batch: a near-copy of vector 0 (tiny perturbation via
    // scaling — colinear, cosine ~1), fresh id, NO label (assignment's job)
    val v0 = emb.filter(c("vec_id") === 0L)
      .select("embedding").head().getSeq[Float](0).toArray
    val near = v0.map(x => x * 0.5f)
    val batch = spark.createDataFrame(
      spark.sparkContext.parallelize(Seq(Row(900000L, near.toSeq))),
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("vec_id",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("embedding",
          org.apache.spark.sql.types.ArrayType(
            org.apache.spark.sql.types.FloatType)))))
    Similarity.ivfAppend(spark, batch, dir, batchId = 1L)
    // the appended vector must land in vector 0's own label list (its
    // nearest centroid is the one 0's list averages toward often enough
    // for a colinear copy: cosine to every centroid equals 0's own), and
    // a probe FOR vector 0 must now surface the appended near-copy first
    val got = Similarity.ivfServe(spark, dir,
        emb.filter(c("vec_id") === 0L)
          .select(c("vec_id").as("query_id"), c("embedding")),
        k = 3, nprobe = 2)
      .select("rank", "neighbor_id").as[(Int, Long)].collect().toMap
    assert(got.get(1).contains(900000L),
      s"appended near-copy not served as rank 1: $got")
  }

  test("winnowing: docs sharing a long substring share a fingerprint") {
    // guarantee: a shared substring of length >= w + k - 1 (= 15 here)
    // contributes at least one common selected hash, in BOTH hash families
    val shared = "the five boxing wizards jump quickly over it"
    val docs = Seq(
      (1L, s"prefix alpha $shared suffix omega"),
      (2L, s"completely different lead-in. $shared and another tail"),
      (3L, "no overlap with anything else at all, entirely disjoint words"))
      .toDF("doc_id", "text")
    val md5fp = TextAnalysis.withWinnowedFingerprint(docs)
      .select("doc_id", "winnow_fp").as[(Long, Seq[String])]
      .collect().map(r => r._1 -> r._2.toSet).toMap
    assert((md5fp(1L) & md5fp(2L)).nonEmpty, "md5 winnow: shared substring missed")
    assert((md5fp(1L) & md5fp(3L)).isEmpty, "md5 winnow: false overlap")
    val rkfp = docs
      .select(col("doc_id"),
        graft.expr.RollingWinnow.rollingWinnow(col("text")).as("fp"))
      .as[(Long, Seq[Long])].collect().map(r => r._1 -> r._2.toSet).toMap
    assert((rkfp(1L) & rkfp(2L)).nonEmpty, "rolling winnow: shared substring missed")
    assert((rkfp(1L) & rkfp(3L)).isEmpty, "rolling winnow: false overlap")
  }

  test("text analysis columns are consistent") {
    val docs = graft.queries.T.documents(spark, "/root/testdata/sf0.001").limit(50)
    val t = TextAnalysis.withTokenCounts(docs)
    assert(t.filter(col("n_ws_tokens") <= 0).count() == 0)
    val q = TextAnalysis.withQuality(docs)
    assert(q.filter(col("punct_ratio") < 0 || col("punct_ratio") > 1).count() == 0)
    assert(q.filter(col("stopword_ratio") < 0 || col("stopword_ratio") > 1).count() == 0)
    val l = TextAnalysis.withLangId(docs)
    assert(l.filter(col("predicted_lang").isNull).count() == 0)
    val f = TextAnalysis.withFingerprints(docs)
    // canonical fingerprint is order-insensitive: shuffled words same fp
    val fp = TextAnalysis.withFingerprints(
      Seq((1L, "alpha beta gamma"), (2L, "gamma alpha beta")).toDF("doc_id", "text"))
      .select("canon_fp").as[String].collect()
    assert(fp(0) == fp(1))
    assert(f.select("text_md5").distinct().count() == 50)
  }

  test("prepareCorpus drops non-target-language, low-quality, and duplicate docs") {
    val en = "the project report is ready and the table of values is in the appendix"
    val docs = Seq(
      (1L, en),                                  // keeps: english, clean, unique
      (2L, "der bericht ist nicht fertig und das ist ein problem zu melden"), // de
      (3L, "@@@@@@@@@@ %%%%%%%%%% !!!!!!!!!! " + en + " ?????????? **********"), // punct-heavy: quality floor
      (4L, en),                                  // exact dup of 1 (larger id drops)
      (5L, "the quick brown fox jumps over the lazy dog near the old river table"))
      .toDF("doc_id", "text").withColumn("lang", lit("en"))
      .withColumn("source", lit("s")).withColumn("n_chars", length(col("text")))
    val kept = graft.ops.Pipeline.prepareCorpus(docs)
      .select("doc_id").as[Long].collect().toSet
    assert(kept.contains(1L) && kept.contains(5L), s"kept: $kept")
    assert(!kept.contains(2L), "german doc must fail the language gate")
    assert(!kept.contains(3L), "punctuation-heavy doc must fail the quality floor")
    assert(!kept.contains(4L), "exact duplicate must drop the larger id")
  }

  test("contamination check flags docs overlapping the benchmark set") {
    val corpus = Seq(
      (1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "completely different words entirely in this one"),
      (3L, "xx quick brown fox jumps zz")).toDF("doc_id", "text")
    val bench = Seq((100L, "a quick brown fox jumps straight")).toDF("doc_id", "text")
    val out = Dedup.contaminationCheck(corpus, bench)
      .select("doc_id", "n_shared_shingles", "contaminated")
      .as[(Long, Long, Boolean)].collect().map(r => r._1 -> ((r._2, r._3))).toMap
    // docs 1 and 3 share "quick brown fox" + "brown fox jumps" with the bench
    assert(out(1L) == ((2L, true)), s"got $out")
    assert(out(3L) == ((2L, true)))
    assert(out(2L) == ((0L, false)))
  }

  test("train shards: dense positions, balanced, partition-independent") {
    val docs = graft.queries.T.documents(spark, "/root/testdata/sf0.01")
    val out = Sampling.trainShards(docs, numShards = 8)
      .select("doc_id", "shard", "pos").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(out.map(_._2).toSet.subsetOf((0L until 8L).toSet))
    // dense 0..n_i-1 positions per shard (the loader seek/resume contract)
    out.groupBy(_._2).foreach { case (s, rows) =>
      assert(rows.map(_._3).sorted.toSeq == (0L until rows.length).toSeq,
        s"positions not dense in shard $s")
    }
    // hash sharding balances: no shard above 2x the mean
    val mean = out.length.toDouble / 8
    assert(out.groupBy(_._2).values.forall(_.length < mean * 2))
    // the order is a pure function of ids — identical under any input
    // partitioning (the reproducibility contract rand() can't give)
    val again = Sampling.trainShards(docs.repartition(7), numShards = 8)
      .select("doc_id", "shard", "pos").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(out.toSet == again.toSet)
    // shard draw is salt-independent of the split bucket: train/val/test
    // docs all land across shards (no correlated striping)
    val withSplit = Sampling.withSplit(
      Sampling.trainShards(docs, numShards = 8))
    val splitsPerShard = withSplit.groupBy("shard")
      .agg(countDistinct(col("split")).as("k")).collect()
    assert(splitsPerShard.forall(_.getLong(1) >= 2),
      "each shard should mix splits")
  }

  test("deterministic split: stable under growth, proportions sane") {
    val docs = graft.queries.T.documents(spark, "/root/testdata/sf0.001")
    val s1 = graft.ops.Sampling.withSplit(docs)
      .select("doc_id", "split").as[(Long, String)].collect().toMap
    // growing the corpus must not move any existing row's split
    val s2 = graft.ops.Sampling.withSplit(docsWithDups)
      .select("doc_id", "split").as[(Long, String)].collect().toMap
    s1.foreach { case (id, sp) => assert(s2(id) == sp, s"split moved for $id") }
    val frac = s1.values.count(_ == "train").toDouble / s1.size
    assert(frac > 0.7 && frac < 0.9, s"train fraction off: $frac")
    assert(s1.values.toSet.subsetOf(Set("train", "val", "test")))
  }

  test("stratified sample: per-stratum rates honored, subset-monotone in rate") {
    val docs = graft.queries.T.documents(spark, "/root/testdata/sf0.001")
    val low = graft.ops.Sampling.stratifiedSample(docs,
      rates = Map("en" -> 30), defaultPct = 10)
      .select("doc_id").as[Long].collect().toSet
    val high = graft.ops.Sampling.stratifiedSample(docs,
      rates = Map("en" -> 60), defaultPct = 10)
      .select("doc_id").as[Long].collect().toSet
    assert(low.subsetOf(high), "raising a rate must only add rows")
    val n = docs.filter(col("lang") === "en").count().toDouble
    val kept = graft.ops.Sampling.stratifiedSample(docs,
      rates = Map("en" -> 60), defaultPct = 0)
      .filter(col("lang") === "en").count().toDouble
    assert(kept / n > 0.4 && kept / n < 0.8, s"en rate off: ${kept / n}")
  }

  test("scrubbing replaces URLs and emails, counts them") {
    val docs = Seq(
      (1L, "see https://example.com/x?q=1 and mail bob.smith+a@corp.example.org now"),
      (2L, "no contacts here at all"))
      .toDF("doc_id", "text")
    val out = TextAnalysis.withScrubbedText(docs)
      .select("doc_id", "n_urls", "n_emails", "scrubbed")
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getString(3)))).toMap
    assert(out(1L)._1 == 1 && out(1L)._2 == 1)
    assert(out(1L)._3 == "see <URL> and mail <EMAIL> now")
    assert(out(2L) == ((0L, 0L, "no contacts here at all")))
  }

  test("bpe merges: hand-computable corpus, greedy leftmost overlap handling") {
    // 3x "abab" + 1x "aaa": round 1 pairs are ab=6, ba=3, aa=2
    // -> merge (a,b). Round 2: "abab"->[ab,ab] gives (ab,ab)=3;
    // "aaa" stays [a,a,a] giving (a,a)=2 -> merge (ab,ab).
    val docs = Seq((1L, "abab abab"), (2L, "abab aaa"))
      .toDF("doc_id", "text")
    val m = graft.ops.TextAnalysis.bpeTopMerges(docs, rounds = 2)
      .orderBy("round")
      .collect()
      .map(r => (r.getInt(0), r.getString(1), r.getString(2), r.getString(3), r.getLong(4)))
    assert(m.toSeq == Seq((1, "a", "b", "ab", 6L), (2, "ab", "ab", "abab", 3L)), m.toSeq)
    // leftmost-greedy: "aaa" under merge (a,a) becomes [aa, a], never [a, aa]
    val m2 = graft.ops.TextAnalysis.bpeTopMerges(
        Seq((1L, "aaa aaa aaa")).toDF("doc_id", "text"), rounds = 2)
      .orderBy("round").collect()
      .map(r => (r.getInt(0), r.getString(1), r.getString(2), r.getLong(4)))
    // round 1: (a,a)=6 (two per word). round 2: symbols [aa, a] -> (aa, a)=3
    assert(m2.toSeq == Seq((1, "a", "a", 6L), (2, "aa", "a", 3L)), m2.toSeq)
  }

  test("hard negatives are all different-label, full distinct rankings") {
    val emb = graft.queries.T.embeddings(spark, "/root/testdata/sf0.001")
    val qLabels = emb.filter(col("vec_id") < 5)
      .select(col("vec_id"), col("label")).as[(Long, Int)].collect().toMap
    val rows = Similarity.hardNegatives(emb, (0L until 5L), k = 4, nprobe = 2)
      .collect()
    assert(rows.length == 20)
    for (r <- rows) {
      val (q, rank, nid, nl) =
        (r.getLong(0), r.getInt(1), r.getLong(2), r.getInt(3))
      assert(nl != qLabels(q), s"query $q got a same-label 'negative' $nid")
      assert(rank >= 1 && rank <= 4)
      assert(nid != q)
    }
    rows.groupBy(_.getLong(0)).foreach { case (q, rs) =>
      assert(rs.map(_.getLong(2)).distinct.length == 4, s"dup negatives for $q")
    }
  }

  test("temperature mix: weights normalize, tail sources boost up, head down") {
    val docs = graft.queries.T.documents(spark, "/root/testdata/sf0.001")
    val rows = graft.ops.CorpusQuality.temperatureMixWeights(docs)
      .select("source", "p", "w", "boost")
      .as[(String, Double, Double, Double)].collect()
    assert(math.abs(rows.map(_._3).sum - 1.0) < 1e-9, "weights must sum to 1")
    // sqrt-temperature flattens the mixture: below-average shares gain,
    // above-average shares shrink, and boost is monotone decreasing in p
    val sorted = rows.sortBy(_._2)
    assert(sorted.head._4 > 1.0 && sorted.last._4 < 1.0,
      s"tail should upweight / head downweight: ${sorted.head} ${sorted.last}")
    sorted.sliding(2).foreach { case Array(a, b) =>
      assert(a._4 >= b._4 - 1e-12, s"boost not monotone: $a then $b")
    }
  }

  test("resample materializes boosts: up-sampled sources gain, down-sampled lose") {
    val docs = graft.queries.T.documents(spark, "/root/testdata/sf0.001")
    val weights = graft.ops.CorpusQuality.temperatureMixWeights(docs)
    val out = graft.ops.Sampling.resampleByWeight(docs, weights)
    // (doc_id, copy) is a key: no duplicate rows ride downstream shuffles
    assert(out.count() == out.select("doc_id", "copy").distinct().count())
    val before = docs.groupBy("source").count()
      .as[(String, Long)].collect().toMap
    val after = out.groupBy("source").count()
      .as[(String, Long)].collect().toMap
    val boosts = weights.select("source", "boost")
      .as[(String, Double)].collect().toMap
    for ((src, b) <- boosts) {
      val (n0, n1) = (before(src), after.getOrElse(src, 0L))
      // deterministic bound: each doc emits floor(b) or ceil(b) copies
      assert(n1 >= n0 * math.floor(b) && n1 <= n0 * math.ceil(b),
        s"$src: $n0 docs at boost $b resampled to $n1")
      if (b >= 1.3) assert(n1 > n0, s"$src should gain rows at boost $b")
      if (b <= 0.7) assert(n1 < n0, s"$src should lose rows at boost $b")
    }
  }

  test("multimodal decode recovers planted geometry from real image bytes") {
    implicit val s: SparkSession = spark
    val docs = graft.queries.T.documents(spark, "/root/testdata/sf0.001").limit(30)
    val media = Multimodal.syntheticImageTable(docs)
    val rows = Multimodal.extractFeatures(media).collect()
    assert(rows.length == 30)
    rows.foreach { r =>
      val (w, h, f) = Multimodal.plantedDims(r.doc_id)
      val fmt = Seq("bmp", "ppm", "pgm", "png", "jpeg")(f)
      assert(r.format == fmt && r.width == w && r.height == h,
        s"doc ${r.doc_id}: decoded (${r.format},${r.width},${r.height}) " +
          s"vs planted ($fmt,$w,$h)")
      assert(r.channels == (if (fmt == "pgm") 1 else 3))
      // file size must equal the real byte count of the generated file
      assert(r.n_bytes == Multimodal.makeImage(r.doc_id).length.toLong)
    }
  }

  test("image codec parses hand-built headers per the public specs") {
    import java.nio.{ByteBuffer, ByteOrder}
    // top-down BMP: negative height in BITMAPINFOHEADER, 8 bpp
    val bmp = ByteBuffer.allocate(54).order(ByteOrder.LITTLE_ENDIAN)
    bmp.put('B'.toByte).put('M'.toByte).putInt(54).putShort(0).putShort(0)
      .putInt(54).putInt(40).putInt(17).putInt(-9).putShort(1).putShort(8)
    assert(Multimodal.decodeMeta(bmp.array()) == (("bmp", 17, 9, 1)))
    // PPM with a comment line and multi-space separators in the header
    val ppm = "P6\n# a comment\n 12  7\n255\n".getBytes("US-ASCII") ++
      Array.fill(12 * 7 * 3)(1.toByte)
    assert(Multimodal.decodeMeta(ppm) == (("ppm", 12, 7, 3)))
    val pgm = "P5\n3 2\n255\n".getBytes("US-ASCII") ++ Array.fill(6)(9.toByte)
    assert(Multimodal.decodeMeta(pgm) == (("pgm", 3, 2, 1)))
    // PNG: signature + IHDR, 16-bit grayscale+alpha — parsed per spec
    val png = ByteBuffer.allocate(33)
    png.put(Array(0x89, 'P', 'N', 'G', 0x0d, 0x0a, 0x1a, 0x0a).map(_.toByte))
    png.putInt(13).put("IHDR".getBytes("US-ASCII"))
    png.putInt(640).putInt(480)
      .put(16.toByte).put(4.toByte) // depth 16, color type gray+alpha
      .put(0.toByte).put(0.toByte).put(0.toByte)
    png.putInt(0) // CRC (not validated by the header parse)
    assert(Multimodal.decodeMeta(png.array()) == (("png", 640, 480, 2)))
    // JPEG: SOI, then a COM segment the scan must SKIP, then SOF2
    // (progressive), 1 component
    val jpg = ByteBuffer.allocate(2 + 9 + 13 + 2)
    jpg.putShort(0xffd8.toShort)
    jpg.putShort(0xfffe.toShort).putShort(7.toShort)
      .put("comnt".getBytes("US-ASCII"))
    jpg.putShort(0xffc2.toShort).putShort(11.toShort)
      .put(8.toByte).putShort(123.toShort).putShort(456.toShort)
      .put(1.toByte).put(1.toByte).put(0x11.toByte).put(0.toByte)
    jpg.putShort(0xffd9.toShort)
    assert(Multimodal.decodeMeta(jpg.array()) == (("jpeg", 456, 123, 1)))
    // garbage, truncated, and malformed-header payloads all degrade to raw
    assert(Multimodal.decodeMeta("not an image".getBytes)._1 == "raw")
    assert(Multimodal.decodeMeta(Array[Byte]('B', 'M', 3))._1 == "raw")
    assert(Multimodal.decodeMeta("P6\nx y\n".getBytes)._1 == "raw")
    assert(Multimodal.decodeMeta(Array.empty[Byte])._1 == "raw")
    // netpbm grammar: the magic must be followed by whitespace/comment —
    // "P6123 7 255 ..." is NOT a 123-wide PPM, it is garbage
    assert(Multimodal.decodeMeta(
      ("P6123 7 255 " + "x" * 64).getBytes("US-ASCII"))._1 == "raw")
    // PNG signature with a truncated / non-IHDR first chunk → raw
    assert(Multimodal.decodeMeta(
      Array(0x89, 'P', 'N', 'G', 0x0d, 0x0a, 0x1a, 0x0a).map(_.toByte))._1 == "raw")
    val badPng = png.array().clone()
    badPng(12) = 'X' // first chunk not IHDR
    assert(Multimodal.decodeMeta(badPng)._1 == "raw")
    // JPEG that hits SOS/EOI before any SOF → raw, not a crash
    val noSof = ByteBuffer.allocate(4)
    noSof.putShort(0xffd8.toShort).putShort(0xffd9.toShort)
    assert(Multimodal.decodeMeta(noSof.array())._1 == "raw")
    // GIF: signature + Logical Screen Descriptor (w/h uint16-LE at 6/8)
    val gif = "GIF89a".getBytes("US-ASCII") ++
      Array(0x41, 0x01, 0x37, 0x00, 0x00, 0x00, 0x00).map(_.toByte)
    assert(Multimodal.decodeMeta(gif) == (("gif", 321, 55, 3)))
    assert(Multimodal.decodeMeta("GIF89a".getBytes)._1 == "raw") // truncated
    // WebP VP8 (lossy): RIFF/WEBP + frame tag + 9D 01 2A + 14-bit dims
    def riffWebp(fourcc: String, payload: Array[Byte]): Array[Byte] =
      "RIFF".getBytes("US-ASCII") ++
        Array((payload.length + 12).toByte, 0, 0, 0).map(_.toByte) ++
        "WEBP".getBytes("US-ASCII") ++ fourcc.getBytes("US-ASCII") ++
        Array(payload.length.toByte, 0, 0, 0).map(_.toByte) ++ payload
    val vp8 = riffWebp("VP8 ", Array(0x00, 0x00, 0x00, 0x9d, 0x01, 0x2a,
      0x09, 0x03, 0x00, 0x04).map(_.toByte))
    assert(Multimodal.decodeMeta(vp8) == (("webp", 777, 1024, 3)))
    // VP8L (lossless): 0x2F signature, bit-packed w-1/h-1, alpha bit set
    val vp8l = riffWebp("VP8L", Array(0x2f, 0x20, 0x00, 0x04, 0x10, 0x00,
      0x00, 0x00, 0x00, 0x00).map(_.toByte))
    assert(Multimodal.decodeMeta(vp8l) == (("webp", 33, 17, 4)))
    // VP8X (extended): alpha flag + 24-bit LE canvas w-1/h-1
    val vp8x = riffWebp("VP8X", Array(0x10, 0x00, 0x00, 0x00,
      0xff, 0xff, 0x00, 0x63, 0x00, 0x00).map(_.toByte))
    assert(Multimodal.decodeMeta(vp8x) == (("webp", 65536, 100, 4)))
    // bad VP8 start code and a RIFF that is not WEBP both degrade to raw
    val badVp8 = vp8.clone(); badVp8(23) = 0x00
    assert(Multimodal.decodeMeta(badVp8)._1 == "raw")
    assert(Multimodal.decodeMeta(Multimodal.makeAv(0L))._1 == "raw") // WAV
  }

  test("DSIR importance weights: target-like docs weight higher; " +
      "served twin is bit-equal; Gumbel top-k is deterministic") {
    val docs = graft.queries.T.documents(spark, "/root/testdata/sf0.001")
    val target = col("lang") === "en"
    val w = graft.ops.Dsir.dsirWeights(docs, target)
    // the model must cover the whole bucket space
    val model = graft.ops.Dsir.dsirModel(docs, docs.filter(target))
    assert(model.count() == graft.ops.Dsir.Buckets)
    // English docs resemble the English target distribution more than the
    // rest of the corpus does — their mean log-weight must be higher
    val byLang = w.join(docs.select("doc_id", "lang"), "doc_id")
      .groupBy(col("lang") === "en").agg(avg("dsir_logw"))
      .collect().map(r => r.getBoolean(0) -> r.getDouble(1)).toMap
    assert(byLang(true) > byLang(false),
      s"en mean ${byLang(true)} not above non-en mean ${byLang(false)}")
    // fit → persist → serve round-trips bit-identically
    val dir = java.nio.file.Files.createTempDirectory("dsir").toString
    graft.ops.Dsir.dsirBuild(docs, docs.filter(target), dir)
    val served = graft.ops.Dsir.dsirServe(spark, dir, docs)
    assert(served.select("doc_id", "n_grams", "dsir_logw")
      .except(w.select("doc_id", "n_grams", "dsir_logw")).isEmpty &&
      w.select("doc_id", "n_grams", "dsir_logw")
        .except(served.select("doc_id", "n_grams", "dsir_logw")).isEmpty)
    // Gumbel top-k: right size, descending keys, rerun-identical
    val r1 = graft.ops.Dsir.dsirResample(w, 20).collect()
    val r2 = graft.ops.Dsir.dsirResample(
      graft.ops.Dsir.dsirWeights(docs, target), 20).collect()
    assert(r1.length == 20)
    assert(r1.map(_.getDouble(3)).sliding(2).forall(p => p(0) >= p(1)))
    assert(r1.map(_.getLong(0)).sameElements(r2.map(_.getLong(0))))
  }

  test("per-group cap keeps exactly min(k, group size) per group, " +
      "layout-invariant") {
    val docs = graft.queries.T.documents(spark, "/root/testdata/sf0.001")
    val capped = graft.ops.Sampling.capPerGroup(docs, maxPerGroup = 5)
    val sizes = capped.groupBy("source").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val full = docs.groupBy("source").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    full.foreach { case (src, n) =>
      assert(sizes.getOrElse(src, 0L) == math.min(5L, n),
        s"source $src: ${sizes.getOrElse(src, 0L)} kept of $n")
    }
    // content-independent order: the SAME survivors regardless of layout
    val a = capped.select("doc_id").collect().map(_.getLong(0)).toSet
    val b = graft.ops.Sampling.capPerGroup(docs.repartition(7), 5)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(a == b)
  }

  test("DSIR count-form artifact: append-then-serve equals a full refit " +
      "on the cumulative corpus") {
    val docs = graft.queries.T.documents(spark, "/root/testdata/sf0.001")
    val old = docs.filter(col("doc_id") < 250)
    val fresh = docs.filter(col("doc_id") >= 250)
    val target = old.filter(col("lang") === "en")
    val dir = java.nio.file.Files.createTempDirectory("dsir_counts").toString
    graft.ops.Dsir.dsirBuildCounts(old, target, dir)
    graft.ops.Dsir.dsirAppendRaw(fresh, dir) // scans the BATCH only
    val served = graft.ops.Dsir.dsirServeCounts(spark, dir, docs)
      .select("doc_id", "n_grams", "dsir_logw")
    val refit = graft.ops.Dsir.dsirWeightsWith(docs,
        graft.ops.Dsir.dsirModel(docs, target))
      .select("doc_id", "n_grams", "dsir_logw")
    assert(served.except(refit).isEmpty && refit.except(served).isEmpty,
      "appended counts must reproduce the full-refit weights bit-exactly")
  }

  test("repetition signals: looping text scores high, diverse text low, " +
      "short docs default to zero") {
    import spark.implicits._
    val docs = Seq(
      (1L, "spam spam spam spam spam spam"),
      (2L, "one two three four five six"),
      (3L, "a b")).toDF("doc_id", "text")
    val got = TextAnalysis.withRepetition(docs).collect()
      .map(r => r.getLong(0) ->
        ((r.getLong(1), r.getDouble(2), r.getDouble(3), r.getDouble(4)))).toMap
    // 6x the same word: ttr 1/6, every bigram identical (5/5), the two
    // 5-gram windows collapse to one distinct (1 - 1/2)
    assert(got(1L) == ((6L, 1.0 / 6, 1.0, 0.5)), s"looping doc: ${got(1L)}")
    // all-distinct words: ttr 1, top bigram 1/5, both 5-grams distinct
    assert(got(2L) == ((6L, 1.0, 0.2, 0.0)), s"diverse doc: ${got(2L)}")
    // 2 words: one bigram (trivially top), no 5-grams -> defined 0
    assert(got(3L) == ((2L, 1.0, 1.0, 0.0)), s"short doc: ${got(3L)}")
  }

  test("WebP VP8L: encoder/decoder round-trip is pixel-exact for textured " +
      "payloads; lossy, truncated, and out-of-subset streams return None") {
    // round-trip over several canvases/patterns through the REAL bytes
    for (id <- Seq(35L, 71L, 143L, 287L)) { // ids ≡ 5 (mod 6) → vp8l
      val bytes = Multimodal.makeTexturedImage(id)
      assert(Multimodal.decodeMeta(bytes)._1 == "webp")
      val (ew, eh, f) = Multimodal.texturedDims(id)
      assert(f == 6, s"id $id should round-robin to the vp8l format code")
      val (dw, dh, g) = Multimodal.decodeVp8lGray(bytes).getOrElse(
        fail(s"vp8l for id $id did not decode"))
      assert(dw == ew && dh == eh)
      val expected = Array.tabulate(ew * eh)(i =>
        Multimodal.texturedGray(id, i % ew, i / ew))
      assert(g.sameElements(expected),
        s"vp8l pixels for id $id differ from the planted pattern")
    }
    // header-only lossy VP8 (no coefficient data): geometry parses, the
    // static scope says pixel (r12: "VP8 " is in the Vp8 luma subset),
    // and the per-payload truth column catches the empty stream — the
    // documented discrepancy signal
    val lossy = Multimodal.makeWebpLossyHeader(40, 30)
    assert(Multimodal.decodeMeta(lossy) == (("webp", 40, 30, 3)))
    assert(Multimodal.decodeGray(lossy).isEmpty)
    assert(Multimodal.codecScopeOf(lossy) == "pixel")
    // truncation at any point → None, never a crash or wrong pixels
    val whole = Multimodal.makeTexturedImage(5L)
    assert(Multimodal.codecScopeOf(whole) == "pixel")
    for (cut <- Seq(10, 21, 30, whole.length / 2, whole.length - 1)) {
      assert(Multimodal.decodeVp8lGray(whole.take(cut)).isEmpty,
        s"truncated vp8l at $cut decoded")
    }
    // flipped bit inside the prefix-code region → malformed, None
    val corrupt = whole.clone()
    corrupt(24) = (corrupt(24) ^ 0x40).toByte
    assert(Multimodal.decodeVp8lGray(corrupt).isEmpty ||
      !Multimodal.decodeVp8lGray(corrupt).get._3.sameElements(
        Multimodal.decodeVp8lGray(whole).get._3))
  }

  test("WebP VP8L: a hand-crafted stream with color cache, LZ77 copy, and " +
      "a normal code-length code (17/18 repeats) decodes exactly") {
    // stream the production encoder never emits: exercises the cache
    // insert/lookup, the 1D back-reference, multi-length canonical codes,
    // and the simple 2-symbol (pair) form — independent of the encoder
    val out = new java.io.ByteArrayOutputStream()
    var acc = 0L; var nb = 0
    def put(v: Int, n: Int): Unit = {
      acc |= (v.toLong & ((1L << n) - 1)) << nb; nb += n
      while (nb >= 8) { out.write((acc & 0xff).toInt); acc >>= 8; nb -= 8 }
    }
    def putCode(code: Int, len: Int): Unit = { // MSB-first canonical code
      var b = len - 1
      while (b >= 0) { put((code >> b) & 1, 1); b -= 1 }
    }
    val (w, h) = (7, 1)
    val cacheBits = 2
    // pixels: A=(r7,g5,b9,a255), B=(rB,gB,bB,a255) with B chosen so the
    // two argbs land in DIFFERENT cache slots (4 slots; the multiplicative
    // hash is deterministic, so the search is too)
    def slot(r: Int, g: Int, b: Int): Int = {
      val argb = (255 << 24) | (r << 16) | (g << 8) | b
      (0x1e35a7bd * argb) >>> (32 - cacheBits)
    }
    val i1 = slot(7, 5, 9)
    val k = (0 until 64).find(k => slot(8 + k, 6 + k, 10 + k) != i1)
      .getOrElse(fail("no non-colliding second pixel under 64 candidates"))
    val (rB, gB, bB) = (8 + k, 6 + k, 10 + k)
    val i2 = slot(rB, gB, bB)
    put(0x2f, 8); put(w - 1, 14); put(h - 1, 14); put(0, 1); put(0, 3)
    put(0, 1)                 // no transforms
    put(1, 1); put(cacheBits, 4) // color cache, 4 slots
    put(0, 1)                 // no meta prefix
    // GREEN (alphabet 284): lengths 5→2, gB→2, 257→2, 280+min→3, 280+max→3
    // code-length code uses symbols {0,2,3,17,18} at lengths {2,2,2,3,3}
    // → canonical: 0→00, 2→01, 3→10, 17→110, 18→111
    put(0, 1)                 // normal form
    put(2, 4)                 // num_code_lengths = 6 (kOrder: 17,18,0,1,2,3)
    Seq(3, 3, 2, 0, 2, 2).foreach(l => put(l, 3))
    put(0, 1)                 // no max_symbol cap
    def cl0() = putCode(0, 2); def cl2() = putCode(1, 2)
    def cl3() = putCode(2, 2)
    def cl17(extra: Int) = { putCode(6, 3); put(extra, 3) } // 3+extra zeros
    def cl18(extra: Int) = { putCode(7, 3); put(extra, 7) } // 11+extra zeros
    def clZeros(n: Int): Unit = { // n ≥ 0 zeros via 18/17/explicit 0s
      var left = n
      while (left >= 11) { cl18(math.min(left, 138) - 11); left -= math.min(left, 138) }
      if (left >= 3) { cl17(left - 3); left = 0 }
      while (left > 0) { cl0(); left -= 1 }
    }
    clZeros(5)                // syms 0..4
    cl2()                     // sym 5 at length 2
    clZeros(gB - 6)           // syms 6..gB-1
    cl2()                     // sym gB at length 2
    clZeros(256 - gB)         // syms gB+1..256
    cl2()                     // sym 257 (length-code 1 → LZ77 length 2)
    clZeros(22)               // syms 258..279
    val (lo, hi) = (math.min(i1, i2), math.max(i1, i2))
    var p = 280
    while (p <= 283) {
      if (p == 280 + i1 || p == 280 + i2) cl3() else cl0()
      p += 1
    }
    // canonical green codes: 5→00, gB→01, 257→10, 280+lo→110, 280+hi→111
    def green(sym: Int): Unit = sym match {
      case 5 => putCode(0, 2)
      case s if s == gB => putCode(1, 2)
      case 257 => putCode(2, 2)
      case s if s == 280 + lo => putCode(6, 3)
      case s if s == 280 + hi => putCode(7, 3)
    }
    // RED pair {7,rB}: s0→0, s1→1; BLUE pair {9,bB}; ALPHA single 255;
    // DISTANCE single symbol 13 (off 96 + extra + 1 → dist codes 97..128)
    put(1, 1); put(1, 1); put(1, 1); put(7, 8); put(rB, 8)  // red
    put(1, 1); put(1, 1); put(1, 1); put(9, 8); put(bB, 8)  // blue
    put(1, 1); put(0, 1); put(1, 1); put(255, 8)            // alpha
    put(1, 1); put(0, 1); put(1, 1); put(13, 8)             // distance
    // pixel stream: A, B, cache(B), LZ77 len2 dist2 → B B, A, cache(A)
    green(5); put(0, 1); put(0, 1)        // A literal (red 7, blue 9)
    green(gB); put(1, 1); put(1, 1)       // B literal
    green(280 + i2)                       // cache hit → B
    green(257)                            // length code → 2
    put(25, 5)                            // dist sym 13, extra 25 → 122 → 2
    green(5); put(0, 1); put(0, 1)        // A literal
    green(280 + i1)                       // cache hit → A
    if (nb > 0) out.write((acc & 0xff).toInt)
    val payload = out.toByteArray
    val file = java.nio.ByteBuffer
      .allocate(20 + payload.length + (payload.length & 1))
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    file.put("RIFF".getBytes("US-ASCII"))
    file.putInt(12 + payload.length + (payload.length & 1))
    file.put("WEBP".getBytes("US-ASCII"))
    file.put("VP8L".getBytes("US-ASCII"))
    file.putInt(payload.length)
    file.put(payload)
    val got = Multimodal.decodeVp8lGray(file.array())
      .getOrElse(fail("crafted vp8l stream did not decode"))
    // gray = red channel: A=7, B=rB → [7, rB, rB, rB, rB, 7, 7]
    assert(got._1 == w && got._2 == h)
    assert(got._3.toSeq == Seq(7, rB, rB, rB, rB, 7, 7),
      s"crafted stream decoded to ${got._3.toSeq}")
  }

  test("GIF LZW decode: a real compressed stream (JDK writer) round-trips " +
      "the planted pixels") {
    // the in-repo GIF encoder emits a spec-valid but naive clear-per-pixel
    // stream that never grows the LZW dictionary; the JDK's ImageIO GIF
    // writer produces a genuinely compressed stream (dictionary growth,
    // code-width bumps, clears), so decoding ITS bytes exercises every
    // decoder path against an independent implementation
    val (w, h) = (40, 30)
    val img = new java.awt.image.BufferedImage(w, h,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    for (y <- 0 until h; x <- 0 until w) {
      val g = Multimodal.texturedGray(7L, x, y)
      img.setRGB(x, y, (g << 16) | (g << 8) | g)
    }
    val baos = new java.io.ByteArrayOutputStream()
    assert(javax.imageio.ImageIO.write(img, "gif", baos), "JDK gif writer absent")
    val decoded = Multimodal.decodeGray(baos.toByteArray)
    assert(decoded.nonEmpty, "compressed GIF did not decode")
    val (dw, dh, g) = decoded.get
    assert(dw == w && dh == h, s"geometry $dw x $dh != $w x $h")
    val expected = Array.tabulate(w * h)(i =>
      Multimodal.texturedGray(7L, i % w, i / w))
    assert(g.sameElements(expected),
      "LZW-decoded pixels differ from the planted pattern")
  }

  test("animated GIF: multi-frame compositing with disposal 0-3, " +
      "transparency, sub-rects, local palettes, per-frame interlace, " +
      "and delays round-trips against hand-composited canvases") {
    import graft.ops.Multimodal.{GifAnimFrameSpec, decodeGifFrames,
      makeGifAnimated}
    val (w, h) = (24, 16)
    def p0(x: Int, y: Int) = (x * 5 + y * 7 + 3) % 256
    def p1(u: Int, v: Int) = (u * 3 + v * 11 + 1) % 256
    def p2(u: Int, v: Int) = (u * 9 + v * 3 + 5) % 256
    def p3(u: Int, v: Int) = (u + v * 2 + 40) % 256
    val specs = Seq(
      // full-canvas base, keep
      GifAnimFrameSpec(0, 0, w, h, delayCs = 4, disposal = 1, idxOf = p0),
      // sub-rect with transparency (index 13 keeps the base),
      // restore-to-background after display
      GifAnimFrameSpec(8, 4, 8, 8, delayCs = 6, disposal = 2,
        transIdx = 13, idxOf = p1),
      // sub-rect with a +64 shifted local palette, interlaced rows,
      // restore-to-PREVIOUS after display
      GifAnimFrameSpec(0, 8, 12, 8, delayCs = 10, disposal = 3,
        palShift = 64, interlaced = true, idxOf = p2),
      // final frame over whatever disposal 3 restored
      GifAnimFrameSpec(20, 0, 4, 4, delayCs = 2, disposal = 0, idxOf = p3))
    val bytes = makeGifAnimated(w, h, specs)
    val (dw, dh, frames) = decodeGifFrames(bytes).getOrElse(
      fail("animated gif rejected"))
    assert(dw == w && dh == h && frames.length == 4)
    assert(frames.map(_.delayCs) == Seq(4, 6, 10, 2))
    // hand-composite, no shared code: canvas0 = p0 everywhere
    val c0 = Array.tabulate(w * h)(i => p0(i % w, i / w))
    assert(frames(0).gray.sameElements(c0), "frame 0 drifted")
    // frame 1: p1 over the rect except transparent 13 keeps p0
    val c1 = c0.clone()
    for (v <- 0 until 8; u <- 0 until 8) {
      val g = p1(u, v)
      if (g != 13) c1((4 + v) * w + 8 + u) = g
    }
    assert(frames(1).gray.sameElements(c1), "frame 1 drifted")
    // frame 2: frame 1's rect restored to background (index 0 → gray
    // 0), then p2 + 64 over its own rect
    val c2 = c1.clone()
    for (v <- 0 until 8; u <- 0 until 8) c2((4 + v) * w + 8 + u) = 0
    for (v <- 0 until 8; u <- 0 until 12)
      c2((8 + v) * w + u) = (p2(u, v) + 64) % 256
    assert(frames(2).gray.sameElements(c2), "frame 2 drifted")
    // frame 3: disposal 3 restores the PRE-frame-2 canvas (= c1 with
    // the background restore applied), then p3 in the corner
    val c3 = c1.clone()
    for (v <- 0 until 8; u <- 0 until 8) c3((4 + v) * w + 8 + u) = 0
    for (v <- 0 until 4; u <- 0 until 4) c3(v * w + 20 + u) = p3(u, v)
    assert(frames(3).gray.sameElements(c3), "frame 3 drifted")
    // poisons: missing trailer, truncated sub-blocks, oversize rect
    assert(decodeGifFrames(bytes.take(bytes.length - 1)).isEmpty)
    assert(decodeGifFrames(bytes.take(bytes.length / 2)).isEmpty)
    val badRect = makeGifAnimated(w, h,
      Seq(GifAnimFrameSpec(0, 0, w, h, 0, 0, idxOf = p0)))
    // patch the first image descriptor's width beyond the canvas
    var j = 13 + 768
    var patched = false
    while (!patched && j + 9 < badRect.length) {
      if ((badRect(j) & 0xff) == 0x2c) {
        badRect(j + 5) = ((w + 1) & 0xff).toByte
        patched = true
      }
      j += 1
    }
    assert(patched && decodeGifFrames(badRect).isEmpty,
      "rect beyond canvas must reject")
  }

  test("audio stream census: MP3 frame walk (CBR/VBR, ID3v2/v1, padding) " +
      "and Ogg/Opus page walk (per-page CRC, OpusHead, granule timing) " +
      "recover exact timing header-only") {
    import graft.ops.Multimodal
    // CBR mono 128 kbps @ 44.1 kHz, 38 frames
    val cbr = Multimodal.makeMp3(38, 0, _ => 9, mono = true)
    assert(Multimodal.decodeAvMeta(cbr) ==
      (("mp3", 1, 44100, 38L * 1152 * 1000 / 44100)))
    // VBR stereo @ 48 kHz behind ID3v2, before an ID3v1 trailer
    val vbr = Multimodal.makeMp3(25, 1, f => 1 + f % 14, mono = false,
      id3v2Bytes = 77, id3v1 = true)
    assert(Multimodal.decodeAvMeta(vbr) ==
      (("mp3", 2, 48000, 25L * 1152 * 1000 / 48000)))
    // poisons: truncation mid-frame; a sample-rate flip mid-stream
    // (frame 0 is 418 bytes at 128 kbps + padding, so frame 1's header
    // starts at 418)
    assert(Multimodal.decodeAvMeta(cbr.take(cbr.length - 3))._1 == "raw")
    val badSr = cbr.clone()
    badSr(418 + 2) = (badSr(418 + 2) ^ 0x08).toByte // srIdx 0 → 2
    assert(Multimodal.decodeAvMeta(badSr)._1 == "raw",
      "mid-stream rate change must reject")
    // Opus: pre-skip 312, last granule 48312 → exactly 1000 ms
    val opus = Multimodal.makeOggOpus(2, 312, 48000,
      Seq(960L, 1920L, 48312L))
    assert(Multimodal.decodeAvMeta(opus) == (("opus", 2, 48000, 1000L)))
    // a flipped body byte breaks that page's CRC
    val badO = opus.clone()
    badO(40) = (badO(40) ^ 1).toByte
    assert(Multimodal.decodeAvMeta(badO)._1 == "raw",
      "Ogg page CRC must catch a body flip")
    // non-Opus Ogg: container recognized, codec timing out of scope
    // (patch the OpusHead magic and re-CRC the first page)
    val nonOpus = opus.clone()
    nonOpus(28) = 'X'.toByte
    val crc = Multimodal.oggCrc(nonOpus, 0, 47, 22)
    for (k <- 0 until 4) nonOpus(22 + k) = ((crc >> (8 * k)) & 0xff).toByte
    assert(Multimodal.decodeAvMeta(nonOpus) == (("ogg", 0, 0, 0L)))
  }

  test("TIFF baseline: II/MM byte orders, gray and RGB, multi-strip " +
      "layouts, and PackBits strips round-trip pixel-exactly") {
    import graft.ops.Multimodal
    // alternating flat patches (PackBits runs) and texture (literals)
    def pix(x: Int, y: Int): Int =
      if ((x / 4 + y / 3) % 2 == 0) 200 else (x * 7 + y * 13) % 256
    for (little <- Seq(true, false); rgb <- Seq(false, true);
        pb <- Seq(false, true); rps <- Seq(5, 100)) {
      val bytes = Multimodal.makeTiff(23, 17, pix, little, rgb, rps, pb)
      val (w, h, g) = Multimodal.decodeTiffGray(bytes).getOrElse(
        fail(s"tiff little=$little rgb=$rgb pb=$pb rps=$rps rejected"))
      assert(w == 23 && h == 17)
      for (y <- 0 until h; x <- 0 until w)
        assert(g(y * w + x) == pix(x, y),
          s"($x,$y) little=$little rgb=$rgb pb=$pb rps=$rps")
    }
    // poisons: truncation, magic corruption, depth patch (BitsPerSample
    // entry is IFD slot 2; its inline SHORT value sits at +8)
    val ok = Multimodal.makeTiff(23, 17, pix, little = true, rgb = false,
      rowsPerStrip = 5, packBits = false)
    assert(Multimodal.decodeTiffGray(ok.take(40)).isEmpty)
    val badMagic = ok.clone(); badMagic(2) = 41
    assert(Multimodal.decodeTiffGray(badMagic).isEmpty)
    val badDepth = ok.clone()
    badDepth(8 + 2 + 12 * 2 + 8) = 16
    assert(Multimodal.decodeTiffGray(badDepth).isEmpty,
      "non-8-bit depth is out of subset")
  }

  test("cross-decoder validation: the JDK's independent ImageIO readers " +
      "reproduce our PNG (exact, incl. Adam7), TIFF (exact), and JPEG " +
      "fixtures (DC-exact gray, near-exact color) — the encoders emit " +
      "files OTHER decoders agree on, not just our own") {
    import graft.ops.{Jpeg, Multimodal}
    def readImg(bytes: Array[Byte]): java.awt.image.BufferedImage = {
      val img = javax.imageio.ImageIO.read(
        new java.io.ByteArrayInputStream(bytes))
      assert(img != null, "ImageIO could not read the fixture")
      img
    }
    def pix(x: Int, y: Int): Int = (x * 37 + y * 91 + (x * y) % 13 * 55) % 256
    // PNG: lossless, so cross-decoder equality is EXACT — sequential
    // with all five filters, and Adam7 interlaced
    for (il <- Seq(false, true)) {
      val b = Multimodal.makePngFiltered(23, 17, pix, y => y % 5,
        interlaced = il)
      val img = readImg(b)
      assert(img.getWidth == 23 && img.getHeight == 17)
      for (y <- 0 until 17; x <- 0 until 23)
        assert((img.getRGB(x, y) & 0xff) == pix(x, y),
          s"ImageIO PNG (interlaced=$il) differs at ($x,$y)")
    }
    // TIFF: lossless — both byte orders, PackBits, multi-strip
    for ((little, pb) <- Seq((true, false), (false, true))) {
      val b = Multimodal.makeTiff(23, 17, pix, little, rgb = true,
        rowsPerStrip = 5, packBits = pb)
      val img = readImg(b)
      assert(img.getWidth == 23 && img.getHeight == 17)
      for (y <- 0 until 17; x <- 0 until 23)
        assert((img.getRGB(x, y) & 0xff) == pix(x, y),
          s"ImageIO TIFF (little=$little pb=$pb) differs at ($x,$y)")
    }
    // JPEG grayscale, DC-only blocks: the IDCT is exact for flat
    // blocks in any conforming decoder → cross-decoder EXACT
    def dcOnly(bx: Int, by: Int): Array[Int] = {
      val a = new Array[Int](64)
      a(0) = ((bx * 37 + by * 91) % 200) - 100
      a
    }
    val (gb, ge) = Jpeg.makeJpegGray(40, 24, dcOnly)
    val gi = readImg(gb)
    assert(gi.getWidth == 40 && gi.getHeight == 24)
    // raw raster samples — getRGB would push gray through a
    // linear-gray→sRGB gamma conversion
    for (y <- 0 until 24; x <- 0 until 40)
      assert(gi.getRaster.getSample(x, y, 0) == ge(y * 40 + x),
        s"ImageIO gray JPEG differs at ($x,$y)")
    // JPEG color (baseline AND progressive), DC-only: the YCbCr→RGB
    // rounding conventions differ across decoders, so allow ±1/channel
    def dcColor(c: Int, bx: Int, by: Int): Array[Int] = {
      val a = new Array[Int](64)
      a(0) = (c match {
        case 0 => (bx * 13 + by * 29) % 160 - 80
        case 1 => (bx * 17 + by * 23) % 100 - 50
        case _ => (bx * 19 + by * 31) % 100 - 50
      })
      a
    }
    def checkColor(bytes: Array[Byte], er: Array[Int], eg: Array[Int],
        eb: Array[Int], label: String): Unit = {
      val img = readImg(bytes)
      assert(img.getWidth == 37 && img.getHeight == 22, label)
      for (y <- 0 until 22; x <- 0 until 37) {
        val rgb = img.getRGB(x, y)
        val i = y * 37 + x
        assert(math.abs(((rgb >> 16) & 0xff) - er(i)) <= 1 &&
          math.abs(((rgb >> 8) & 0xff) - eg(i)) <= 1 &&
          math.abs((rgb & 0xff) - eb(i)) <= 1,
          s"$label differs beyond ±1 at ($x,$y)")
      }
    }
    // 4:4:4 keeps chroma upsampling out of the comparison — T.81 does
    // not mandate an upsampling filter (libjpeg's "fancy" bilinear vs
    // our box replication), so subsampled layouts stay self-consistency
    val (cb, (cr2, cg2, cb2)) = Jpeg.makeJpegColor(37, 22, 1, 1, 2, dcColor)
    checkColor(cb, cr2, cg2, cb2, "ImageIO baseline color JPEG")
    val (pb2, (pr2, pg2, pbl2)) =
      Jpeg.makeJpegProgressive(37, 22, 1, 1, 0, dcColor)
    checkColor(pb2, pr2, pg2, pbl2, "ImageIO progressive JPEG")
    // reverse direction: ImageIO-WRITTEN files through our decoders
    // (PNG is exercised here; GIF has its own cross-test above)
    val src = new java.awt.image.BufferedImage(31, 19,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    for (y <- 0 until 19; x <- 0 until 31) {
      val g = pix(x, y)
      src.setRGB(x, y, (g << 16) | (g << 8) | g)
    }
    val baos = new java.io.ByteArrayOutputStream()
    assert(javax.imageio.ImageIO.write(src, "png", baos))
    val ours = Multimodal.decodeGray(baos.toByteArray)
    assert(ours.nonEmpty, "our decoder rejected an ImageIO PNG")
    val (dw, dh, dg) = ours.get
    assert(dw == 31 && dh == 19)
    for (y <- 0 until 19; x <- 0 until 31)
      assert(dg(y * 31 + x) == pix(x, y),
        s"our decode of an ImageIO PNG differs at ($x,$y)")
  }

  test("animated WebP: VP8X/ANIM/ANMF compositing over the VP8 and VP8L " +
      "decoders — sub-rect frames, dispose-to-background, durations, " +
      "and the first-frame decodeGray contract") {
    import graft.ops.{Multimodal, Vp8}
    import graft.ops.Multimodal.WebpAnimFrameSpec
    val (w, h) = (48, 32)
    // frame 0: full-canvas LOSSY constant; frame 1: LOSSLESS sub-rect
    // with dispose-to-background; frame 2: lossy sub-rect after the
    // restore
    val f0 = Vp8.makeWebpLossy(w, h, (_, _) => 90)
    val f1 = Multimodal.makeVp8l(16, 10, (x, y) => (x * 5 + y * 9 + 30) % 256)
    val f2 = Vp8.makeWebpLossy(20, 12, (_, _) => 210)
    val bytes = Multimodal.makeWebpAnimated(w, h, bgGray = 17, Seq(
      WebpAnimFrameSpec(0, 0, 40, disposeBg = false, f0),
      WebpAnimFrameSpec(8, 4, 70, disposeBg = true, f1),
      WebpAnimFrameSpec(24, 16, 55, disposeBg = false, f2)))
    val (dw, dh, frames) = Multimodal.decodeWebpAnim(bytes).getOrElse(
      fail("animated webp rejected"))
    assert(dw == w && dh == h && frames.length == 3)
    assert(frames.map(_._1) == Seq(40, 70, 55))
    // hand-composite
    val c0 = Array.fill(w * h)(90)
    assert(frames(0)._2.sameElements(c0), "frame 0 drifted")
    val c1 = c0.clone()
    for (y <- 0 until 10; x <- 0 until 16)
      c1((4 + y) * w + 8 + x) = (x * 5 + y * 9 + 30) % 256
    assert(frames(1)._2.sameElements(c1), "frame 1 drifted")
    // frame 1's rect restored to the BACKGROUND gray, then frame 2
    val c2 = c0.clone()
    for (y <- 0 until 10; x <- 0 until 16) c2((4 + y) * w + 8 + x) = 17
    for (y <- 0 until 12; x <- 0 until 20) c2((16 + y) * w + 24 + x) = 210
    assert(frames(2)._2.sameElements(c2), "frame 2 drifted")
    // decodeGray serves the FIRST composited frame (the GIF contract),
    // and the scope classifier promotes animations to pixel
    val g1 = Multimodal.decodeGray(bytes)
    assert(g1.exists(_._3.sameElements(c0)))
    assert(Multimodal.codecScopeOf(bytes) == "pixel")
    // geometry mismatch between the ANMF rect and the embedded frame,
    // truncation, and a non-animation VP8X all reject
    assert(Multimodal.decodeWebpAnim(bytes.take(bytes.length - 5)).isEmpty)
    val badFlags = bytes.clone()
    badFlags(20) = 0x10.toByte // alpha, not animation
    assert(Multimodal.decodeWebpAnim(badFlags).isEmpty)
    val badRect = Multimodal.makeWebpAnimated(w, h, 0, Seq(
      WebpAnimFrameSpec(40, 28, 10, disposeBg = false, f2))) // 20x12 at (40,28) overflows
    assert(Multimodal.decodeWebpAnim(badRect).isEmpty,
      "out-of-canvas frame rect must reject")
  }

  test("codec poison regressions (r15): unpadded final ANMF, oversized " +
      "GIF GCT on a truncated file, and count>1 TIFF geometry tags all " +
      "reject instead of crashing or misreading") {
    // 1. ANMF whose embedded chunk has ODD esize and NO pad byte, as the
    //    final chunk of the file (size-24 == esize). The pre-fix rewrap
    //    copied 8+esize+1 bytes and read one past the array.
    def le32(v: Int) = Array((v & 0xff).toByte, ((v >> 8) & 0xff).toByte,
      ((v >> 16) & 0xff).toByte, ((v >> 24) & 0xff).toByte)
    def u24le(v: Int) = Array((v & 0xff).toByte, ((v >> 8) & 0xff).toByte,
      ((v >> 16) & 0xff).toByte)
    val body = new java.io.ByteArrayOutputStream()
    val vp8x = new Array[Byte](10)
    vp8x(0) = 0x02 // animation flag
    System.arraycopy(u24le(15), 0, vp8x, 4, 3) // w-1
    System.arraycopy(u24le(15), 0, vp8x, 7, 3) // h-1
    body.write("VP8X".getBytes); body.write(le32(10)); body.write(vp8x)
    val anim = Array[Byte](9, 9, 9, -1, 0, 0)
    body.write("ANIM".getBytes); body.write(le32(6)); body.write(anim)
    val esize = 3 // odd, garbage VP8L payload
    val anmf = new java.io.ByteArrayOutputStream()
    anmf.write(u24le(0)); anmf.write(u24le(0)) // fx, fy
    anmf.write(u24le(15)); anmf.write(u24le(15)) // fw-1, fh-1
    anmf.write(u24le(40)); anmf.write(0x00) // duration, flags
    anmf.write("VP8L".getBytes); anmf.write(le32(esize))
    anmf.write(Array[Byte](1, 2, 3)) // odd payload, NO pad byte follows
    body.write("ANMF".getBytes); body.write(le32(24 + esize))
    body.write(anmf.toByteArray)
    val b = body.toByteArray
    val out = java.nio.ByteBuffer.allocate(12 + b.length)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    out.put("RIFF".getBytes); out.putInt(4 + b.length)
    out.put("WEBP".getBytes); out.put(b)
    val poison = out.array()
    assert(poison.length == 12 + 8 + 10 + 8 + 6 + 8 + 24 + esize)
    // must return None (garbage VP8L), NOT throw IndexOutOfBounds
    assert(Multimodal.decodeWebpAnim(poison).isEmpty,
      "unpadded final ANMF with garbage payload must reject cleanly")
    assert(Multimodal.decodeGray(poison).isEmpty)

    // 2. GIF header advertising a 256-entry global color table on a file
    //    truncated before the table ends — pre-fix the background-gray
    //    read at 13+3*bgIdx threw ArrayIndexOutOfBounds.
    val gif = new Array[Byte](20)
    System.arraycopy("GIF89a".getBytes, 0, gif, 0, 6)
    gif(6) = 8; gif(7) = 0 // w=8
    gif(8) = 8; gif(9) = 0 // h=8
    gif(10) = 0xf7.toByte // GCT present, size bits 7 → 256 entries
    gif(11) = 0xff.toByte // bgIdx 255 → read at 13+765, far past EOF
    assert(Multimodal.decodeGifFrames(gif).isEmpty,
      "truncated GCT must reject, not crash")
    assert(Multimodal.decodeGray(gif).isEmpty)

    // 3. TIFF geometry tag with count=2: the inline value field stores an
    //    OFFSET, not the value — tiffMeta must skip it (w stays 0 → raw),
    //    not report the offset as a 9999-px width.
    val t = java.nio.ByteBuffer.allocate(8 + 2 + 12 * 2 + 4)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    t.put('I'.toByte).put('I'.toByte).putShort(42).putInt(8)
    t.putShort(2) // two tags
    t.putShort(256).putShort(3).putInt(2).putInt(9999) // width, count=2!
    t.putShort(257).putShort(3).putInt(1).putInt(5) // height, count=1
    t.putInt(0) // next-IFD terminator
    assert(Multimodal.decodeMeta(t.array())._1 == "raw",
      "count>1 geometry tag must not be misread as an inline value")
  }

  test("perceptual dHash: byte decode matches the planted formula; " +
      "banded near-dups stay within the pattern class") {
    implicit val s: SparkSession = spark
    val docs = graft.queries.T.documents(spark, "/root/testdata/sf0.001")
      .limit(64)
    val media = Multimodal.syntheticTexturedImageTable(docs)
    val hashes = Multimodal.imageDHash(media)
    val got = hashes.collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    // every doc hashes: all six raster formats (bmp/ppm/pgm/png/gif/webp-
    // vp8l) decode
    assert(got.size == 64, s"only ${got.size}/64 images decoded")
    // the FILE-BYTE decode (bmp row flip, pnm raster offset, png inflate)
    // reproduces the planting formula bit-for-bit
    got.foreach { case (id, (lo, hi)) =>
      val (w, h, _) = Multimodal.texturedDims(id)
      val g = Array.tabulate(w * h)(i =>
        Multimodal.texturedGray(id, i % w, i / w))
      assert(Multimodal.dHashHalves(w, h, g) == ((lo, hi)),
        s"doc $id: decoded hash differs from planted formula")
    }
    // planted near-dups (same pattern class, sparse per-id noise) are
    // found; nothing crosses pattern classes (cross-pid hashes unrelated)
    val nn = Multimodal.phashNearDups(hashes).collect()
      .map(r => (r.getLong(0), r.getLong(3))).toMap
    assert(nn.values.exists(_ > 0), "planted same-pattern near-dups not found")
    val classSize = (0L until 64L).groupBy(_ % 8).view.mapValues(_.size).toMap
    nn.foreach { case (id, n) =>
      assert(n <= classSize(id % 8) - 1,
        s"doc $id: $n near-dups exceeds its pattern class — cross-class match")
    }
    // no-raster payloads produce no hash, never a bogus one: the synthetic
    // jpeg is header-only (id % 5 == 4), and garbage is garbage
    assert(Multimodal.decodeGray(Multimodal.makeImage(4L)).isEmpty)
    assert(Multimodal.decodeGray("junk, not an image".getBytes).isEmpty)
    // survivor selection: the transitive closure collapses each pattern
    // class to its min doc_id (clique-shaped classes here), never across
    val surv = Multimodal.phashDedupImages(hashes).collect()
      .map(_.getLong(0)).toSet
    assert(surv.size >= 8 && (0L until 8L).forall(surv.contains),
      s"expected the per-class min ids to survive, got $surv")
    assert(surv.forall(id => !surv.exists(o =>
        o != id && o % 8 == id % 8 && o < id && {
          val (la, ha) = (got(id)._1, got(id)._2)
          val (lb, hb) = (got(o)._1, got(o)._2)
          java.lang.Long.bitCount(la ^ lb) + java.lang.Long.bitCount(ha ^ hb) <= 7
        })),
      "two directly-near survivors kept in one class")
  }

  test("audio fingerprint: WAV byte decode matches the planted waveform; " +
      "banded near-dups stay within the pattern class") {
    implicit val s: SparkSession = spark
    val docs = graft.queries.T.documents(spark, "/root/testdata/sf0.001")
      .limit(64)
    val media = Multimodal.syntheticTexturedAudioTable(docs)
    val hashes = Multimodal.audioFingerprint(media)
    val got = hashes.collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(got.size == 64, s"only ${got.size}/64 clips decoded")
    // the FILE-BYTE decode (RIFF chunk walk + int16 LE samples)
    // reproduces the planted waveform's fingerprint bit-for-bit
    got.foreach { case (id, (lo, hi)) =>
      val pcm = Array.tabulate(Multimodal.AfWindows * Multimodal.AfWinLen)(
        t => Multimodal.texturedSample(id, t))
      assert(Multimodal.afHalves(pcm).contains((lo, hi)),
        s"clip $id: decoded fingerprint differs from planted formula")
    }
    // same-pid clips share the base waveform (sparse noise ⇒ small
    // Hamming); cross-pid fingerprints are unrelated
    val nn = Multimodal.audioNearDups(media).collect()
      .map(r => (r.getLong(0), r.getLong(3))).toMap
    assert(nn.values.exists(_ > 0), "planted same-pattern near-dups not found")
    val classSize = (0L until 64L).groupBy(_ % 8).view.mapValues(_.size).toMap
    nn.foreach { case (id, n) =>
      assert(n <= classSize(id % 8) - 1,
        s"clip $id: $n near-dups exceeds its pattern class — cross-class match")
    }
    // poison-blob contract: junk, MP4, or non-16-bit payloads never hash
    assert(Multimodal.decodePcm("junk, not audio".getBytes).isEmpty)
    assert(Multimodal.decodePcm(Multimodal.makeAv(1L)).isEmpty) // MP4
    // clips shorter than two windows have nothing to difference
    assert(Multimodal.afHalves(Array.fill(40)(1)).isEmpty)
  }

  test("JSONL read drops malformed lines instead of null-poisoning rows") {
    import org.apache.spark.sql.types._
    val dir = java.nio.file.Files.createTempDirectory("jsonl_poison")
    java.nio.file.Files.writeString(dir.resolve("part-0.json"),
      """{"doc_id": 1, "text": "good line"}
        |not json at all {{{
        |{"doc_id": 2, "text": "another good line"}
        |""".stripMargin)
    val schema = StructType(Seq(StructField("doc_id", LongType),
      StructField("text", StringType)))
    val got = graft.model.Sources.readJsonl(spark, dir.toString, schema)
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(got == Set((1L, "good line"), (2L, "another good line")),
      s"malformed line not dropped cleanly: $got")
  }

  test("joint multimodal dedup: a text pair bridges two image components") {
    import spark.implicits._
    // image pairs: {1,2} and {3,4}; text pair 2~3 bridges them
    val imagePairs = Seq((1L, 2L), (3L, 4L)).toDF("doc_a", "doc_b")
    val textPairs = Seq((2L, 3L)).toDF("doc_a", "doc_b")
    val docs = (1L to 5L).toDF("doc_id")
    val surv = Multimodal.jointDedupSurvivors(textPairs, imagePairs, docs)
      .collect().map(_.getLong(0)).toSet
    // one component {1,2,3,4} -> survivor 1; doc 5 untouched
    assert(surv == Set(1L, 5L), s"expected bridged closure, got $surv")
  }

  test("video near-dup: keyframe decode + hash set overlap finds trimmed " +
      "same-class copies, never cross-class") {
    implicit val s: SparkSession = spark
    val docs = graft.queries.T.documents(spark, "/root/testdata/sf0.001")
      .limit(64)
    val frames = Multimodal.syntheticVideoFrameTable(docs)
    val fh = Multimodal.videoFrameDHash(frames)
    // every planted keyframe decodes and hashes
    assert(fh.count() == frames.count())
    val nn = Multimodal.videoNearDups(fh).collect()
      .map(r => (r.getLong(0), (r.getLong(1), r.getLong(2)))).toMap
    assert(nn.size == 64)
    nn.foreach { case (id, (nFrames, n)) =>
      assert(nFrames == 4 + id % 5, s"video $id: wrong frame count")
      // same-class videos share a 4-frame prefix; Jaccard >= 0.5 admits
      // exactly the pairs with min(nf)/max-overlap >= 1/2 — never another
      // class (disjoint frame sets)
      val classIds = (0L until 64L).filter(o => o % 8 == id % 8 && o != id)
      val expected = classIds.count { o =>
        val (na, nb) = (4 + id % 5, 4 + o % 5)
        val m = math.min(na, nb)
        m.toDouble / (na + nb - m) >= 0.5
      }
      assert(n == expected, s"video $id: $n near-dups, expected $expected")
    }
  }

  test("a/v decode recovers planted container params from real WAV/MP4 bytes") {
    implicit val s: SparkSession = spark
    val docs = graft.queries.T.documents(spark, "/root/testdata/sf0.001").limit(30)
    val rows = Multimodal.extractAvFeatures(
      Multimodal.syntheticAvTable(docs)).collect()
    assert(rows.length == 30)
    rows.foreach { r =>
      val id = r.doc_id
      if (id % 2 == 0) {
        val ch = ((id / 2) % 2 + 1).toInt
        val rate = Multimodal.wavRates((id % 5).toInt)
        val n = id % 1000 + 100
        assert(r.format == "wav" && r.channels == ch &&
          r.sample_rate == rate && r.duration_ms == n * 1000 / rate,
          s"doc $id: $r")
        assert(r.n_bytes == 44 + n * ch * 2)
      } else {
        val ts = Multimodal.mp4Timescales((id % 5).toInt)
        val dur = id % 100000 + 1000
        assert(r.format == "mp4" && r.channels == 0 &&
          r.sample_rate == ts && r.duration_ms == dur * 1000 / ts,
          s"doc $id: $r")
        assert(r.n_bytes == 140 + id % 256)
      }
    }
  }

  test("a/v codec parses hand-built containers per the public specs") {
    import java.nio.{ByteBuffer, ByteOrder}
    // WAV whose fmt chunk comes AFTER an unknown odd-sized chunk (the RIFF
    // walk must skip it word-aligned), 3 channels, 8-bit samples
    val wav = ByteBuffer.allocate(12 + 8 + 6 + 24 + 8 + 9)
      .order(ByteOrder.LITTLE_ENDIAN)
    wav.put("RIFF".getBytes("US-ASCII")).putInt(0)
      .put("WAVE".getBytes("US-ASCII"))
    wav.put("LIST".getBytes("US-ASCII")).putInt(5)
      .put(Array.fill(6)(0.toByte)) // 5-byte chunk + 1 pad byte
    wav.put("fmt ".getBytes("US-ASCII")).putInt(16).putShort(1)
      .putShort(3).putInt(8000).putInt(8000 * 3).putShort(3).putShort(8)
    wav.put("data".getBytes("US-ASCII")).putInt(9)
    // 9 bytes / (3 ch * 1 byte) = 3 samples -> 3*1000/8000 = 0 ms (floor)
    assert(Multimodal.decodeAvMeta(wav.array()) == (("wav", 3, 8000, 0L)))
    // MP4 with a free box before moov and a VERSION-1 (64-bit) mvhd
    val mp4 = ByteBuffer.allocate(16 + 8 + 8 + 40)
    mp4.putInt(16).put("ftyp".getBytes("US-ASCII"))
      .put("isom".getBytes("US-ASCII")).putInt(0)
    mp4.putInt(8).put("free".getBytes("US-ASCII"))
    mp4.putInt(48).put("moov".getBytes("US-ASCII"))
    mp4.putInt(40).put("mvhd".getBytes("US-ASCII"))
    mp4.putInt(0x01000000) // version 1
    mp4.putLong(0).putLong(0) // 64-bit creation/modification
    mp4.putInt(1000).putLong(65_000) // timescale, 64-bit duration
    assert(Multimodal.decodeAvMeta(mp4.array()) == (("mp4", 0, 1000, 65000L)))
    // malformed payloads degrade to raw: garbage, RIFF-but-not-WAVE,
    // truncated RIFF, fmt-less WAV, box-size-under-8 loop guard, no moov
    assert(Multimodal.decodeAvMeta("not media at all".getBytes)._1 == "raw")
    assert(Multimodal.decodeAvMeta(
      "RIFFxxxxAVI LIST".getBytes("US-ASCII"))._1 == "raw")
    assert(Multimodal.decodeAvMeta("RIFF".getBytes("US-ASCII"))._1 == "raw")
    val noFmt = ByteBuffer.allocate(20).order(ByteOrder.LITTLE_ENDIAN)
    noFmt.put("RIFF".getBytes("US-ASCII")).putInt(12)
      .put("WAVE".getBytes("US-ASCII"))
      .put("data".getBytes("US-ASCII")).putInt(0)
    assert(Multimodal.decodeAvMeta(noFmt.array())._1 == "raw")
    val badBox = ByteBuffer.allocate(24)
    badBox.putInt(16).put("ftyp".getBytes("US-ASCII"))
      .put("isom".getBytes("US-ASCII")).putInt(0)
      .putInt(4).put("moov".getBytes("US-ASCII")) // size 4 < 8: must bail
    assert(Multimodal.decodeAvMeta(badBox.array())._1 == "raw")
    assert(Multimodal.decodeAvMeta(Array.empty[Byte])._1 == "raw")
  }

  test("naive bayes: separable planted classes classify correctly, served == fit") {
    import spark.implicits._
    // two cleanly separable vocabularies; doc 9 is unseen but all-"cat"
    // words, doc 10 all-"dog" words, doc 11 mixed with a cat majority
    val train = Seq(
      (1L, "meow purr whiskers", "cat"), (2L, "purr meow tail", "cat"),
      (3L, "bark woof fetch", "dog"), (4L, "woof bark bone", "dog")
    ).toDF("doc_id", "text", "lang")
    val (priors, ll) = graft.ops.Classify.nbModel(train)
    val test = Seq((9L, "meow purr"), (10L, "bark bone woof"),
      (11L, "meow woof purr")).toDF("doc_id", "text")
    val pred = graft.ops.Classify.nbClassifyWith(test, priors, ll)
      .orderBy("doc_id")
      .select("doc_id", "pred_label").as[(Long, String)].collect().toSeq
    assert(pred == Seq((9L, "cat"), (10L, "dog"), (11L, "cat")))
    // served-from-artifact equals the in-memory fit on real data
    val docs = graft.queries.T.documents(spark, "/root/testdata/sf0.001")
    val dir = java.nio.file.Files.createTempDirectory("nbtest_").toString
    graft.ops.Classify.nbBuild(docs, dir)
    val served = graft.ops.Classify.nbServe(spark, dir, docs)
      .orderBy("doc_id").collect().toSeq
    val fit = graft.ops.Classify.nbClassify(docs)
      .orderBy("doc_id").collect().toSeq
    assert(served == fit && served.nonEmpty)
  }

  test("a/v frame fan-out follows the parsed duration, capped near maxFrames") {
    import spark.implicits._
    // 10 s at 25 fps = 250 frames, step 31 -> ceil(250/31) = 9 samples;
    // zero-duration media must fan out to nothing
    val av = Seq((1L, 10000L), (2L, 0L)).toDF("doc_id", "duration_ms")
    val out = Multimodal.sampleFramesAv(av)
      .orderBy("doc_id", "frame_idx")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(out.forall(_._1 == 1L))
    assert(out.length == 9 && out.head == ((1L, 0L, 0L)))
    assert(out.last == ((1L, 248L, 9920L))) // 8*31 = 248 -> 248*1000/25
  }

  test("trigram language ID beats the marker heuristic on marker-free text") {
    import spark.implicits._
    // labeled fixtures: the de/es/fr sentences contain NONE of the marker
    // words (withLangId scores them 0 -> 'und'); trigram profiles still
    // see sch/ung/cht, ado/cio/os , our/ait/eur etc.
    val fixture = Seq(
      (1L, "en", "the quick brown fox is jumping over the lazy dog"),
      (2L, "en", "reading and writing tests with standard tooling"),
      (3L, "de", "schlechtes wetter verursachte gestern erhebliche verspaetungen"),
      (4L, "de", "forschung braucht geduld entwicklung braucht richtung"),
      (5L, "es", "hemos comprado resultados pintados cocinados preparados"),
      (6L, "es", "nuestros vecinos cocinaron platos tradicionales deliciosos"),
      (7L, "fr", "nos voyageurs remarquaient toujours quelques couleurs merveilleuses"),
      (8L, "fr", "il faisait chaud pourtant nous marchions toujours")
    ).toDF("doc_id", "lang", "text")
    def accuracy(df: org.apache.spark.sql.DataFrame): (Long, Long) = {
      val n = df.count()
      val right = df.filter(col("predicted_lang") === col("lang")).count()
      (right, n)
    }
    val (markerRight, n) = accuracy(TextAnalysis.withLangId(fixture))
    val (triRight, _) = accuracy(TextAnalysis.withLangIdTrigram(fixture))
    assert(triRight > markerRight,
      s"trigram ($triRight/$n) should beat markers ($markerRight/$n) here")
    assert(triRight >= 7, s"trigram accuracy too low: $triRight/$n")
    // the marker-free de/es/fr sentences specifically: markers say 'und'
    val tri = TextAnalysis.withLangIdTrigram(fixture)
      .select("doc_id", "predicted_lang").as[(Long, String)].collect().toMap
    val marker = TextAnalysis.withLangId(fixture)
      .select("doc_id", "predicted_lang").as[(Long, String)].collect().toMap
    for (id <- Seq(3L, 4L, 5L, 6L, 7L)) {
      assert(marker(id) == "und", s"doc $id unexpectedly has marker words")
      assert(tri(id) != "und", s"doc $id: trigram profile found no signal")
    }
  }

  test("winnowOverlapPairs finds a planted partial overlap, skips unrelated docs") {
    // doc 2 embeds doc 1's paragraph inside 3x as much unrelated text —
    // the whole-doc Jaccard is diluted to ~0.25 but the winnow containment
    // (shared / smaller fingerprint set) stays high
    val para = (0 until 30).map(i => s"distinctive$i").mkString(" ")
    val noise = (0 until 90).map(i => s"unrelated$i").mkString(" ")
    val other = (0 until 40).map(i => s"elsewhere$i").mkString(" ")
    val docs = Seq((1L, para), (2L, s"$noise $para"), (3L, other))
      .toDF("doc_id", "text")
    val pairs = TextAnalysis.winnowOverlapPairs(docs, minContainment = 0.3)
      .collect()
    assert(pairs.length == 1)
    val r = pairs.head
    assert((r.getLong(0), r.getLong(1)) == ((1L, 2L)))
    assert(r.getDouble(3) > 0.8, s"containment ${r.getDouble(3)}")
  }

  test("selectWithinTokenBudget equals the global greedy prefix") {
    // scores collide across docs (ties broken by id) and budgets land
    // mid-bucket — the two-phase cutoff must still equal a single global
    // (score desc, id) greedy prefix
    val rows = (1 to 200).map(i =>
      (i.toLong, (i % 37) / 10.0, (i % 13) + 1L))
    val docs = rows.toDF("doc_id", "quality_score", "n_ws_tokens")
    for (budget <- Seq(0L, 7L, 600L, 5000L)) {
      val got = Sampling.selectWithinTokenBudget(docs, budget)
        .select("doc_id").as[Long].collect().toSet
      var cum = 0L
      var stopped = false
      val want = scala.collection.mutable.Set[Long]()
      rows.sortBy { case (id, s, _) => (-s, id) }.foreach { case (id, _, t) =>
        if (!stopped && cum + t <= budget) { cum += t; want += id }
        else stopped = true
      }
      assert(got == want.toSet, s"budget=$budget")
    }
  }

  test("duplicatedSpans recovers planted cross-doc and intra-doc spans") {
    // docs 1 & 2 share the 6-token run "a b c d e f"; doc 3 repeats its own
    // 5-token prefix later (intra-doc duplication); doc 4 is all-unique.
    val docs = Seq(
      (1L, "a b c d e f u1 u2 u3 u4 u5"),
      (2L, "v1 v2 a b c d e f v3 v4 v5"),
      (3L, "p q r s t x1 x2 x3 p q r s t"),
      (4L, "w1 w2 w3 w4 w5 w6 w7 w8 w9")
    ).toDF("doc_id", "text")
    val spans = Dedup.duplicatedSpans(docs, k = 5)
      .orderBy("doc_id", "span_start")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(spans.toSeq == Seq(
      (1L, 0L, 5L, 6L),   // shared run covers 2 overlapping 5-grams -> merged
      (2L, 2L, 7L, 6L),
      (3L, 0L, 4L, 5L),   // the repeated prefix, both occurrences
      (3L, 8L, 12L, 5L)))
  }

  test("duplicatedSpans merges adjacent islands and requires k >= 2") {
    // one doc containing the same 5-gram twice back-to-back: positions 0
    // and 5 touch (0..4 then 5..9) and must merge into a single span
    val docs = Seq((1L, "m n o p q m n o p q")).toDF("doc_id", "text")
    val spans = Dedup.duplicatedSpans(docs, k = 5).collect()
    assert(spans.length == 1)
    val r = spans.head
    assert((r.getLong(1), r.getLong(2), r.getLong(3)) == ((0L, 9L, 10L)))
    assertThrows[IllegalArgumentException](Dedup.duplicatedSpans(docs, k = 1))
  }

  test("scrubSpans removes only the duplicated tokens and keeps the rest") {
    val docs = Seq(
      (1L, "a b c d e f u1 u2 u3 u4 u5"),
      (2L, "v1 v2 a b c d e f v3 v4 v5"),
      (4L, "w1 w2 w3 w4 w5 w6 w7 w8 w9")
    ).toDF("doc_id", "text")
    val out = Dedup.scrubSpans(docs, k = 5).orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
    assert(out.toSeq == Seq(
      (1L, "u1 u2 u3 u4 u5", 5L, 6L),
      (2L, "v1 v2 v3 v4 v5", 5L, 6L),
      (4L, "w1 w2 w3 w4 w5 w6 w7 w8 w9", 9L, 0L)))
  }

  test("bigram LM: seen bigrams score conditional ln, unseen fall to backoff, OOV drops") {
    // reference: "a b", "a c" — so c(a,*)=2, and unigrams a:2 b:1 c:1 (total 4)
    val ref = Seq((1L, "a b"), (2L, "a c")).toDF("doc_id", "text")
    val (big, bo) = TextAnalysis.lmBigramModel(ref)
    // scored doc: (a,b) seen -> ln(1/2); (b,a) unseen, a in vocab ->
    // ln(0.4*2/4); (a,zz) OOV w2 -> dropped by the vocabulary join
    val out = TextAnalysis.lmBigramScoreWith(
        Seq((9L, "a b a zz")).toDF("doc_id", "text"), big, bo)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    // mirror the engine exactly: per-leaf DECIMAL(18,6) rounding, exact
    // decimal sum, THEN one double division — not a sum of rounded doubles
    val lp = (x: Double) => BigDecimal(math.log(x))
      .setScale(6, BigDecimal.RoundingMode.HALF_UP)
    val expected = (lp(1.0 / 2) + lp(0.4 * 2 / 4)).toDouble / 2
    assert(out.toSeq == Seq((9L, 2L, expected)))
  }

  test("bigram LM: served scores from the persisted artifact equal the fit form") {
    val docs = graft.queries.T.documents(spark, "/root/testdata/sf0.001")
    val dir = java.nio.file.Files.createTempDirectory("lmtest_").toString
    TextAnalysis.lmBigramBuild(docs, dir)
    val served = TextAnalysis.lmBigramServe(spark, dir, docs)
      .orderBy("doc_id").collect().toSeq
    val fit = TextAnalysis.lmBigramScore(docs)
      .orderBy("doc_id").collect().toSeq
    assert(served == fit && served.nonEmpty)
    // the salted fit-half is a strict subset, so backoff must actually fire:
    // some doc's avg must differ from a model fit on ALL docs
    val (bigAll, boAll) = TextAnalysis.lmBigramModel(docs)
    val all = TextAnalysis.lmBigramScoreWith(docs, bigAll, boAll)
      .orderBy("doc_id").collect().toSeq
    assert(all != fit)
  }

  test("content-defined chunks survive an upstream edit; fixed-stride chunks don't") {
    val base = graft.queries.T.documents(spark, "/root/testdata/sf0.001")
      .filter(col("doc_id") < 50)
    // prepend a sentence to every document — the classic CDC scenario
    val edited = base.withColumn("text",
      concat(lit("freshly inserted leading sentence here "), col("text")))
    def cdcHashes(df: DataFrame) =
      graft.ops.CorpusQuality.chunkContentDefined(df)
        .select("chunk_hash").collect().map(_.getString(0)).toSet
    def strideHashes(df: DataFrame) =
      graft.ops.CorpusQuality.chunkWithOverlap(df)
        .select("chunk_hash").collect().map(_.getString(0)).toSet
    val (cdcA, cdcB) = (cdcHashes(base), cdcHashes(edited))
    val cdcShared = (cdcA & cdcB).size.toDouble / cdcA.size
    // CDC: boundaries downstream of the edit are content-determined, so
    // most chunks reappear verbatim and dedup catches them
    assert(cdcShared > 0.5,
      s"CDC should preserve most chunk hashes across the edit: $cdcShared")
    val (fixA, fixB) = (strideHashes(base), strideHashes(edited))
    val fixShared = (fixA & fixB).size.toDouble / fixA.size
    // fixed stride: the insert shifts every window, hashes churn
    assert(fixShared < cdcShared,
      s"fixed-stride should churn more than CDC: $fixShared vs $cdcShared")
  }

  test("URL canonicalization handles the edge shapes") {
    val cases = Seq(
      // fragment + default https port + tracking params + trailing slash
      ("HTTPS://WWW.A.Example.COM:443/Path/Sub/?utm_source=x&id=7&utm_medium=y#frag",
        "https://www.a.example.com/Path/Sub?id=7"),
      // http:80 strip; ref param dropped entirely -> no '?'
      ("http://B.test.ORG:80/p?ref=rss", "http://b.test.org/p"),
      // non-default port survives; param order preserved
      ("https://c.example.com:8443/x?b=2&a=1", "https://c.example.com:8443/x?b=2&a=1"),
      // no path, no query; root slash stripped
      ("https://D.example.com/", "https://d.example.com"),
      // path/query case preserved, only scheme://host lowered
      ("HTTP://E.Com/CaseSensitive/Path?Key=Value", "http://e.com/CaseSensitive/Path?Key=Value"),
      // fbclid dropped, legit param kept
      ("https://f.com/p?fbclid=abc123&q=term", "https://f.com/p?q=term"))
    val got = cases.map(_._1).toDF("url")
      .select(graft.ops.UrlOps.canonicalizeUrl(col("url")).as("c"))
      .collect().map(_.getString(0)).toSeq
    assert(got == cases.map(_._2), s"canonicalization mismatch: $got")
  }

  test("bloom admission composes with URL canonicalization: tracking-param " +
      "variants of a seen URL are rejected") {
    import org.apache.spark.sql.functions.{col => c}
    // frontier state: canonical URLs already crawled
    val seen = Seq(
      "https://a.example.com/page/1",
      "https://a.example.com/page/2?id=7")
      .toDF("url")
      .select(graft.ops.UrlOps.canonicalizeUrl(c("url")).as("canon"))
    val dir = java.nio.file.Files.createTempDirectory("urlbloom").toString
    graft.ops.Neutral.bloomIndexBuild(seen, dir, textCol = "canon")
    // incoming crawl: two disguised re-crawls + one genuinely new URL
    val incoming = Seq(
      (1L, "HTTPS://A.Example.COM:443/page/1/?utm_source=feed#top"),
      (2L, "https://a.example.com/page/2?utm_medium=x&id=7&fbclid=zz"),
      (3L, "https://a.example.com/page/3"))
      .toDF("doc_id", "url")
      .withColumn("canon", graft.ops.UrlOps.canonicalizeUrl(c("url")))
    val admitted = graft.ops.Neutral
      .admitBloomServed(spark, dir, incoming, textCol = "canon")
      .collect().map(r => r.getLong(0) -> r.getBoolean(2)).toMap
    assert(admitted == Map(1L -> false, 2L -> false, 3L -> true),
      s"canonical-URL bloom admission wrong: $admitted")
  }

  test("registered domain follows longest-matching-suffix PSL semantics") {
    val suffixes = Seq("com", "co.uk", "uk").toDF("suffix")
    val hosts = Seq(
      "www.a.example.com",   // 'com' -> example.com
      "b.sample.co.uk",      // 'co.uk' beats 'uk' -> sample.co.uk
      "deep.x.y.sample.co.uk", // still sample.co.uk
      "plain.co.uk",         // suffix co.uk + one label = plain.co.uk
      "host.internal")       // no suffix match -> last-2 fallback
      .toDF("host")
    val got = graft.ops.UrlOps.withRegisteredDomain(hosts, "host", suffixes)
      .select("host", "registered_domain").collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(got("www.a.example.com") == "example.com")
    assert(got("b.sample.co.uk") == "sample.co.uk")
    assert(got("deep.x.y.sample.co.uk") == "sample.co.uk")
    assert(got("plain.co.uk") == "plain.co.uk")
    assert(got("host.internal") == "host.internal")
  }

  test("VP8 luma decode: a per-macroblock-textured key frame round-trips " +
      "exactly through the bool coder, tokens, WHT/IDCT, and DC prediction") {
    import graft.ops.Vp8
    // non-multiple-of-16 dims exercise the crop; the mb values sweep the
    // planted-delta range: extremes (0, 255), sign flips, and magnitudes
    // across every token category (|4d| from 4 up to >512 = cat6)
    val (w, h) = (53, 37) // 4x3 macroblocks
    def mbVal(mx: Int, my: Int): Int = (mx * 97 + my * 151 + 13) % 256
    val bytes = Vp8.makeWebpLossy(w, h, mbVal)
    assert(Multimodal.decodeMeta(bytes) == (("webp", w, h, 3)))
    assert(Multimodal.codecScopeOf(bytes) == "pixel")
    val (dw, dh, g) = Multimodal.decodeGray(bytes).getOrElse(
      fail("textured VP8 did not decode"))
    assert(dw == w && dh == h)
    for (y <- 0 until h; x <- 0 until w)
      assert(g(y * w + x) == mbVal(x / 16, y / 16),
        s"pixel ($x,$y): got ${g(y * w + x)}, " +
          s"want ${mbVal(x / 16, y / 16)}")
    // constant image: every MB after (0,0) skips — the file stays tiny
    // and still reconstructs exactly
    val const = Vp8.makeWebpLossy(64, 48, (_, _) => 200)
    val (_, _, cg) = Multimodal.decodeGray(const).get
    assert(cg.forall(_ == 200))
    assert(const.length < bytes.length,
      "the all-skip constant frame should be smaller than the textured one")
    // poison contract: truncations and bad headers → None, never a crash
    for (cut <- Seq(10, 22, 29, bytes.length / 2, bytes.length - 1))
      assert(Multimodal.decodeGray(bytes.take(cut)).isEmpty,
        s"truncated VP8 at $cut decoded")
    val badStart = bytes.clone()
    badStart(23) = 0x00 // break the 9d 01 2a start code
    assert(Multimodal.decodeGray(badStart).isEmpty)
    val interFrame = bytes.clone()
    interFrame(20) = (interFrame(20) | 1).toByte // frame_type = inter
    assert(Multimodal.decodeGray(interFrame).isEmpty)
  }

  test("VP8 AC coefficients and all four 16x16 modes: arbitrary planted " +
      "token streams decode to the encoder's exact reconstruction") {
    import graft.ops.Vp8
    // 4x3 MBs, mode round-robin over DC/V/H/TM; Y2 and Y levels are a
    // deterministic mix exercising: multi-coefficient runs, in-block
    // zero runs (the skip-EOB-after-zero rule), EOB at varying
    // positions, negative levels, every token category (1..4, cat1-6),
    // and mixed per-block nonzero contexts
    def mode(mx: Int, my: Int): Int = (mx + my * 4) % 4
    def y2(mx: Int, my: Int): Array[Int] = {
      val a = new Array[Int](16)
      if ((mx + my) % 3 != 2) {
        a(0) = ((mx * 53 + my * 29) % 201) - 100 // DC in [-100, 100]
        a(1) = if (mx % 2 == 0) 7 else -3
        a(4) = if (my % 2 == 0) 1 else 0 // zero-run then a late coeff
        a(7) = (mx + my) % 2
      }
      a
    }
    def yl(mx: Int, my: Int, b: Int): Array[Int] = {
      val a = new Array[Int](16)
      if ((mx + my + b) % 4 == 0) {
        a(1) = ((b * 37 + mx * 11) % 9) - 4
        a(3) = if (b % 3 == 0) 70 else 0 // cat6-range level
        a(9) = if (b % 5 == 1) -21 else 0 // cat4-range, after zeros
        a(15) = b % 2 // the last scan position
      }
      a
    }
    val (bytes, expected) = Vp8.makeWebpLossyFrame(61, 44, mode, y2, yl)
    val (dw, dh, g) = Multimodal.decodeGray(bytes).getOrElse(
      fail("AC-textured VP8 frame did not decode"))
    assert(dw == 61 && dh == 44)
    assert(g.sameElements(expected),
      "decoded luma diverges from the encoder's reconstruction")
    // independent semantic pins (computed here, not via shared code):
    // a residual-free V MB in the top row predicts the 127 edge fill
    val (b2, e2) = Vp8.makeWebpLossyFrame(48, 32,
      (mx, _) => if (mx == 1) 1 else 0, // MB(1,0) is V
      (mx, my) => { val a = new Array[Int](16)
        if (mx == 0 && my == 0) a(0) = 40; a }, // only MB(0,0) has coeffs
      (_, _, _) => new Array[Int](16))
    val (_, _, g2) = Multimodal.decodeGray(b2).get
    assert(g2.sameElements(e2))
    for (x <- 16 until 32; y <- 0 until 16)
      assert(g2(y * 48 + x) == 127,
        s"top-row V_PRED must fill from the 127 edge, got ${g2(y * 48 + x)}")
    // and the DC MB(0,0) planted 40*16 -> sub-dc 80 -> delta 10 over 128
    assert(g2(0) == 138, s"planted Y2 DC chain drifted: ${g2(0)}")
  }

  test("VP8 B_PRED: context-coded 4x4 sub-modes, type-3 tokens from " +
      "coefficient 0, and the intra subblock dependency chain round-trip") {
    import graft.ops.Vp8
    // 3x2 MBs mixing B_PRED with 16x16 neighbors; sub-modes rotate
    // DC/TM/HE so the context-coded sub-mode table sees varied
    // above/left pairs, and B blocks carry their OWN DC (coeff 0 —
    // the type-3 path no other fixture reaches)
    def mode(mx: Int, my: Int): Int = if ((mx + my) % 2 == 0) 4 else 0
    def bmode(mx: Int, my: Int, b: Int): Int = (mx + my + b) % 3
    def y2(mx: Int, my: Int): Array[Int] = {
      val a = new Array[Int](16)
      if ((mx + my) % 2 == 1) a(0) = 40 // 16x16 MBs get a Y2 DC
      a
    }
    def yl(mx: Int, my: Int, b: Int): Array[Int] = {
      val a = new Array[Int](16)
      if ((mx + my) % 2 == 0) { // B_PRED MBs: per-block levels incl. DC
        a(0) = ((b * 29 + mx * 7 + my * 3) % 41) - 20
        if (b % 4 == 1) a(6) = -5
        if (b % 4 == 2) a(13) = 2
      }
      a
    }
    val (bytes, expected) = Vp8.makeWebpLossyFrame(44, 28, mode, y2, yl, bmode)
    val (dw, dh, g) = Multimodal.decodeGray(bytes).getOrElse(
      fail("B_PRED frame did not decode"))
    assert(dw == 44 && dh == 28)
    assert(g.sameElements(expected),
      "B_PRED decode diverges from the encoder's reconstruction")
    // independent pin: MB(0,0) is B_PRED, subblock 0 is B_DC with no
    // neighbors -> predicts 128; its planted level a(0) = -20 dequants
    // by ydcQ = 8 -> DC -160 -> IDCT delta (-160+4)>>3 = -20 -> 108
    assert(g(0) == 108, s"B_PRED DC chain drifted: ${g(0)}")
    // an all-zero B_PRED frame skips everywhere and still reconstructs
    val (b2, e2) = Vp8.makeWebpLossyFrame(32, 32, (_, _) => 4,
      (_, _) => new Array[Int](16), (_, _, _) => new Array[Int](16),
      (_, _, _) => 0)
    val (_, _, g2) = Multimodal.decodeGray(b2).get
    assert(g2.sameElements(e2))
    // hand-derived under §12.3's unconditional border-backed B_DC:
    // sb(0,0) = (4·127+4·129+4)>>3 = 128; the rest of subblock row 0
    // averages the 127 top border with 128 lefts → 128; every block
    // below picks up the 129 left border (sb(1,0) = (4·128+4·129+4)>>3
    // = 129) and 129 then propagates right and down → 129 everywhere
    // below pixel row 3
    for (y <- 0 until 32; x <- 0 until 32) {
      val want = if (y < 4) 128 else 129
      assert(g2(y * 32 + x) == want,
        s"all-skip B_DC at ($x,$y): ${g2(y * 32 + x)} != $want")
    }
  }

  test("VP8 B_PRED full sub-mode surface: all ten §12.3 predictors " +
      "round-trip, B_DC uses the unconditional border-backed average, " +
      "and the one off-frame above-right combo is refused") {
    import graft.ops.Vp8
    // 3x2 MBs, all B_PRED, sub-modes sweeping every spec id 0-9 with
    // residuals on a rotating subset — steering around the single
    // out-of-subset above-right combination at the right edge
    val w = 48
    val h = 32
    val mbCols = 3
    def bmode(mx: Int, my: Int, b: Int): Int = {
      val m = (mx * 5 + my * 7 + b) % 10
      if ((m == 2 || m == 4 || m == 7) && b % 4 == 3 &&
        mx == mbCols - 1 && my > 0) Seq(0, 1, 3, 5, 6, 8, 9)(m % 7)
      else m
    }
    def yl(mx: Int, my: Int, b: Int): Array[Int] = {
      val a = new Array[Int](16)
      a(0) = ((b * 13 + mx * 11 + my * 5) % 31) - 15
      if (b % 3 == 1) a(7) = 3 - (b % 5)
      a
    }
    val used = (for {
      my <- 0 until 2; mx <- 0 until 3; b <- 0 until 16
    } yield bmode(mx, my, b)).toSet
    assert(used == (0 to 9).toSet, s"fixture must cover all ten: $used")
    val (bytes, expected) = Vp8.makeWebpLossyFrame(w, h, (_, _) => 4,
      (_, _) => new Array[Int](16), yl, bmode)
    val (dw, dh, g) = Multimodal.decodeGray(bytes).getOrElse(
      fail("full sub-mode frame did not decode"))
    assert(dw == w && dh == h)
    assert(g.sameElements(expected),
      "full sub-mode decode != encoder reconstruction")
    // border-backed B_DC, pinned by hand (independent of the shared
    // predictor): single MB, all B_DC, only subblock 0 planted with
    // level -20 -> recon 108. Then per §12.3's unconditional 8-pixel
    // average: sb(0,1) = (4·127 + 4·108 + 4) >> 3 = 118 (127 top
    // border), sb(1,0) = (4·108 + 4·129 + 4) >> 3 = 119 (129 left
    // border) — the old partial-average convention would give 108 both
    // times
    val (b2, e2) = Vp8.makeWebpLossyFrame(16, 16, (_, _) => 4,
      (_, _) => new Array[Int](16),
      (_, _, b) => {
        val a = new Array[Int](16); if (b == 0) a(0) = -20; a
      },
      (_, _, _) => 0)
    val g2 = Multimodal.decodeGray(b2).get._3
    assert(g2.sameElements(e2))
    assert(g2(0) == 108, s"sb(0,0) recon drifted: ${g2(0)}")
    assert(g2(4) == 118,
      s"B_DC must average the 127 top border with the left 108s: ${g2(4)}")
    assert(g2(4 * 16) == 119,
      s"B_DC must average the 129 left border with the above 108s: ${g2(4 * 16)}")
    // the residual subset line is refused loudly at the encoder (the
    // decoder rejects the same predicate with None)
    intercept[IllegalArgumentException] {
      Vp8.makeWebpLossyFrame(32, 32, (_, _) => 4,
        (_, _) => new Array[Int](16), (_, _, _) => new Array[Int](16),
        (_, _, _) => 2) // VE everywhere incl. right-edge col 3, my > 0
    }
  }

  test("VP8 loop filter arithmetic matches hand-evaluated RFC 6386 §15 " +
      "fixtures: normal wide + hev paths, simple path, mask rejection, " +
      "sharpness limit, level-0 skip") {
    import graft.ops.Vp8
    // two MBs side by side, constant left/right values: the only active
    // edge is MB 1's left edge (inner=false, my=0), so every row is one
    // independent 8-tap filter application — hand-computable from the
    // spec formulas without running this code
    def plane2(left: Int, right: Int): Array[Int] = {
      val p = new Array[Int](32 * 16)
      var i = 0
      while (i < p.length) { p(i) = if (i % 32 < 16) left else right; i += 1 }
      p
    }
    val noInner = Array(false, false)
    // NORMAL, wide (non-hev) path at level 10, sharpness 0:
    // I=10, hevT=0, mbE=34; p*=100→s-28, q*=110→s-18; mask 25<=34;
    // w=c(c(-10)+3*10)=20; taps (27w+63)>>7=4, (18w+63)>>7=3,
    // (9w+63)>>7=1 → p2..q2 = 101,103,104 | 106,107,109
    val pN = plane2(100, 110)
    Vp8.loopFilterPlane(pN, 32, 2, 1, 16, 0, 0, Array(10, 10), noInner)
    for (y <- 0 until 16) {
      val row = (12 to 19).map(x => pN(y * 32 + x))
      assert(row == Seq(100, 101, 103, 104, 106, 107, 109, 110),
        s"normal wide path, row $y: $row")
    }
    // SIMPLE path, same step: a=c(c(-10)+30)=20, F=c(24)>>3=3,
    // E=c(23)>>3=2 → only p0/q0 move: 102 | 107
    val pS = plane2(100, 110)
    Vp8.loopFilterPlane(pS, 32, 2, 1, 16, 1, 0, Array(10, 10), noInner)
    for (y <- 0 until 16) {
      val row = (13 to 18).map(x => pS(y * 32 + x))
      assert(row == Seq(100, 100, 102, 107, 110, 110),
        s"simple path, row $y: $row")
    }
    // MASK rejection: |p0-q0|*2 + |p1-q1|/2 = 50 > mbE=34 → untouched
    val pM = plane2(100, 120)
    Vp8.loopFilterPlane(pM, 32, 2, 1, 16, 0, 0, Array(10, 10), noInner)
    assert(pM.zipWithIndex.forall { case (v, i) =>
      v == (if (i % 32 < 16) 100 else 120) }, "over-limit step must not filter")
    // HEV path at level 40 (hevT=2): spiky p1=115 → |p1-p0|=15>2 → the
    // two-tap common adjust: a=c(c(-13+18)+30)=35, F=c(39)>>3=4,
    // E=c(38)>>3=4 → p0 104 | q0 106, p1/q1 NOT touched
    val pH = plane2(100, 110)
    for (y <- 0 until 16) pH(y * 32 + 14) = 115
    Vp8.loopFilterPlane(pH, 32, 2, 1, 16, 0, 0, Array(40, 40), noInner)
    for (y <- 0 until 16) {
      val row = (13 to 18).map(x => pH(y * 32 + x))
      assert(row == Seq(100, 115, 104, 106, 110, 110),
        s"hev path, row $y: $row")
    }
    // SHARPNESS tightens the limits: a 100→111 step (mask sum 27)
    // filters at sharpness 0 (mbE=34) and is rejected at sharpness 7
    // (interior = min(10 >> 2, 9-7) = 2 → mbE = 26)
    val pA = plane2(100, 111)
    Vp8.loopFilterPlane(pA, 32, 2, 1, 16, 0, 7, Array(10, 10), noInner)
    assert(pA(5 * 32 + 15) == 100 && pA(5 * 32 + 16) == 111,
      "sharpness-7 limit must reject the 11-step")
    val pB = plane2(100, 111)
    Vp8.loopFilterPlane(pB, 32, 2, 1, 16, 0, 0, Array(10, 10), noInner)
    assert(pB(5 * 32 + 15) != 100, "sharpness-0 must filter the 11-step")
    // per-MB level 0 skips the MB outright
    val pZ = plane2(100, 110)
    Vp8.loopFilterPlane(pZ, 32, 2, 1, 16, 0, 0, Array(10, 0), noInner)
    assert(pZ(5 * 32 + 15) == 100 && pZ(5 * 32 + 16) == 110,
      "a level-0 MB must not filter its edges")
  }

  test("VP8 loop filter end-to-end: filtered frames decode to the " +
      "encoder's filtered reconstruction and differ from unfiltered") {
    import graft.ops.Vp8
    // textured 3x2-MB frame with coefficients everywhere (inner edges
    // active) — both filter types, a delta-free header, level straddling
    // the hev threshold
    def mode(mx: Int, my: Int): Int = (mx + my) % 4
    def y2(mx: Int, my: Int): Array[Int] = {
      val a = new Array[Int](16)
      a(0) = 13 * (mx + 1) - 9 * my; a(3) = 2 - mx
      a
    }
    def yl(mx: Int, my: Int, b: Int): Array[Int] = {
      val a = new Array[Int](16)
      a(1 + (b % 5)) = ((b + mx * 3 + my) % 9) - 4
      a
    }
    val (plain, ePlain) = Vp8.makeWebpLossyFrame(48, 32, mode, y2, yl)
    for (ft <- Seq(0, 1); lvl <- Seq(14, 40)) {
      val (bytes, expected) = Vp8.makeWebpLossyFrame(48, 32, mode, y2, yl,
        filterType = ft, filterLevel = lvl, sharpness = ft * 3)
      val (dw, dh, g) = Multimodal.decodeGray(bytes).getOrElse(
        fail(s"filtered frame (type=$ft lvl=$lvl) did not decode"))
      assert(dw == 48 && dh == 32)
      assert(g.sameElements(expected),
        s"type=$ft lvl=$lvl: decode != filtered reconstruction")
      assert(!g.sameElements(ePlain),
        s"type=$ft lvl=$lvl: filter must change this textured frame")
    }
    // unfiltered baseline still matches itself
    assert(Multimodal.decodeGray(plain).get._3.sameElements(ePlain))
    // lf deltas: INTRA ref delta + B_PRED mode delta land in the header
    // delta block and adjust per-MB levels (a parse misalignment here
    // would desync the whole mode stream, so exact decode is a strong
    // canary); mix B_PRED and 16x16 MBs so both delta paths apply
    def modeB(mx: Int, my: Int): Int = if ((mx + my) % 2 == 0) 4 else 0
    val (db, de) = Vp8.makeWebpLossyFrame(48, 32, modeB, y2, yl,
      bModeOf = (_, _, b) => b % 3, filterLevel = 20,
      lfRefDeltaIntra = -8, lfModeDeltaBpred = 5)
    val (_, _, dg) = Multimodal.decodeGray(db).getOrElse(
      fail("lf-delta frame did not decode"))
    assert(dg.sameElements(de), "lf-delta decode != filtered reconstruction")
  }

  test("VP8 chroma: all four 8x8 uv intra modes land on the hand-computed " +
      "RFC 6386 first-MB values, and the planted DC delta is integer-exact") {
    import graft.ops.Vp8
    val zero = new Array[Int](16)
    def dc(v: Int) = { val a = new Array[Int](16); a(0) = v; a }
    // §12.2 predictions for the frame's FIRST macroblock (no neighbors),
    // computed by hand from the spec rules, not by this code:
    // DC = 128 (no edges), V = 127 (above border), H = 129 (left
    // border), TM = clamp(129 + 127 - 127) = 129
    val firstMbPred = Map(0 -> 128, 1 -> 127, 2 -> 129, 3 -> 129)
    for ((m, base) <- firstMbPred) {
      val (bytes, _, eu, ev) = Vp8.makeWebpLossyFrameYuv(16, 16,
        (_, _) => 0, (_, _) => zero, (_, _, _) => zero,
        uvOf = (_, _, pl, _) => if (pl == 0) dc(7) else dc(-5),
        uvModeOf = (_, _) => m)
      val (_, _, _, du, dv) = Vp8.decodeYuv(bytes).getOrElse(
        fail(s"uv mode $m frame did not decode"))
      assert(du.sameElements(eu) && dv.sameElements(ev),
        s"uv mode $m: decode != simulation")
      // qi 4 ⇒ uvdc quantizer 8 ⇒ (8c+4)>>3 = c exactly
      assert(du(0) == base + 7, s"uv mode $m: U ${du(0)} != ${base + 7}")
      assert(dv(0) == base - 5, s"uv mode $m: V ${dv(0)} != ${base - 5}")
    }
  }

  test("VP8 chroma: planted UV AC coefficients, mixed uv modes, and the " +
      "chroma loop filter round-trip through the full pipeline") {
    import graft.ops.Vp8
    val zero = new Array[Int](16)
    def uvScan(mx: Int, my: Int, pl: Int, cb: Int): Array[Int] = {
      val a = new Array[Int](16)
      // deterministic mixed plants: DC + two AC positions, sign-varied,
      // including all-zero blocks (nonzero-context propagation both ways)
      if ((mx + my + cb) % 3 != 0) {
        a(0) = (mx * 5 + cb * 3 - pl * 7 - my) % 11
        a(2) = (mx - my + pl + cb) % 5
        a(9) = if ((mx + cb) % 2 == 0) -3 else 2
      }
      a
    }
    val (bytes, ey, eu, ev) = Vp8.makeWebpLossyFrameYuv(48, 32,
      (mx, my) => (mx + my) % 4,
      (_, _) => zero, (_, _, _) => zero,
      uvOf = uvScan,
      uvModeOf = (mx, my) => (mx + 2 * my) % 4,
      filterType = 0, filterLevel = 33, sharpness = 2)
    val (dw, dh, dy, du, dv) = Vp8.decodeYuv(bytes).getOrElse(
      fail("chroma-textured frame did not decode"))
    assert(dw == 48 && dh == 32)
    assert(dy.sameElements(ey), "luma decode != simulation")
    assert(du.sameElements(eu), "U decode != simulation")
    assert(dv.sameElements(ev), "V decode != simulation")
    // the simple filter must leave chroma untouched (§15.1) while still
    // filtering luma
    val (b1, _, u1, v1) = Vp8.makeWebpLossyFrameYuv(48, 32,
      (_, _) => 0, (_, _) => zero, (_, _, _) => zero,
      uvOf = uvScan, filterType = 1, filterLevel = 40)
    val (b0, _, u0, v0) = Vp8.makeWebpLossyFrameYuv(48, 32,
      (_, _) => 0, (_, _) => zero, (_, _, _) => zero,
      uvOf = uvScan, filterType = 1, filterLevel = 0)
    assert(u1.sameElements(u0) && v1.sameElements(v0),
      "simple filter must not touch chroma")
    val (_, _, _, du1, dv1) = Vp8.decodeYuv(b1).get
    assert(du1.sameElements(u1) && dv1.sameElements(v1))
    val (_, _, _, du0, dv0) = Vp8.decodeYuv(b0).get
    assert(du0.sameElements(u0) && dv0.sameElements(v0))
  }

  test("JPEG baseline: planted AC runs, ZRL, EOB, signed categories, and " +
      "multi-block DC prediction round-trip through the from-scratch " +
      "Huffman scan, and DC-only blocks are integer-exact") {
    import graft.ops.Jpeg
    // DC-only constant: q0 = 8 makes pixel exactly 128 + level
    val const = Jpeg.makeJpegConst(19, 12, 77)
    val (cw, ch, cg) = Jpeg.decodeLumaGray(const).getOrElse(
      fail("constant jpeg did not decode"))
    assert(cw == 19 && ch == 12 && cg.forall(_ == 77),
      "constant fixture must decode to exactly v everywhere")
    // arbitrary plants: DC + AC coefficients with zero runs past the
    // ZRL boundary, positive/negative values, EOB at varied positions
    def levels(bx: Int, by: Int): Array[Int] = {
      val a = new Array[Int](64)
      a(0) = (bx * 37 - by * 53) % 120
      if ((bx + by) % 3 != 0) {
        a(1) = -(bx + 1)
        a(5) = by + 2
        a(22) = if (bx % 2 == 0) -7 else 7 // 16-gap zero run → ZRL
        a(63) = bx - by // EOB-less full block when nonzero
      }
      a
    }
    val (bytes, expected) = Jpeg.makeJpegGray(30, 21, levels)
    val (dw, dh, g) = Jpeg.decodeLumaGray(bytes).getOrElse(
      fail("planted jpeg did not decode"))
    assert(dw == 30 && dh == 21)
    assert(g.sameElements(expected),
      "decode != encoder reconstruction simulation")
    // the sniff dispatch routes jpeg to the baseline decoder
    assert(graft.ops.Multimodal.decodeGray(bytes).get._3.sameElements(expected))
    // poison-blob contract: truncation anywhere → None, never a crash
    for (cut <- Seq(2, 20, bytes.length / 2, bytes.length - 1))
      assert(Jpeg.decodeLumaGray(bytes.take(cut)).isEmpty,
        s"truncated at $cut must reject")
    // out-of-subset rejections: progressive (SOF2) and a restart interval
    val sof2 = bytes.clone()
    // find the SOF0 marker and flip it to SOF2
    var i = 2
    var flipped = false
    while (!flipped && i + 1 < sof2.length) {
      if ((sof2(i) & 0xff) == 0xff && (sof2(i + 1) & 0xff) == 0xc0) {
        sof2(i + 1) = 0xc2.toByte; flipped = true
      }
      i += 1
    }
    assert(flipped && Jpeg.decodeLumaGray(sof2).isEmpty,
      "progressive frame type must reject")
  }

  test("JPEG color: YCbCr 4:4:4 / 4:2:2 / 4:2:0 interleaved MCU scans " +
      "with separate luma/chroma tables, restart intervals, box chroma " +
      "upsample, and the exact-integer JFIF convert round-trip") {
    import graft.ops.Jpeg
    // planted per-component levels: DC everywhere, AC on some blocks so
    // both quant tables and the interleave order genuinely matter
    def levels(c: Int, bx: Int, by: Int): Array[Int] = {
      val a = new Array[Int](64)
      a(0) = ((c * 41 + bx * 37 - by * 53) % 100)
      if (c == 0 && (bx + by) % 2 == 0) { a(3) = bx + 1; a(17) = -(by + 2) }
      if (c == 2 && bx % 2 == 1) a(1) = 5
      a
    }
    for (((hs, vs), ri) <- Seq(((1, 1), 0), ((2, 1), 3), ((2, 2), 2),
        ((1, 2), 0), ((2, 2), 0), ((1, 1), 1))) {
      val (bytes, (rE, gE, bE)) = Jpeg.makeJpegColor(37, 22, hs, vs, ri, levels)
      val (w, h, r, g, b) = Jpeg.decodeRgb(bytes).getOrElse(
        fail(s"color jpeg $hs x $vs ri=$ri did not decode"))
      assert(w == 37 && h == 22)
      assert(r.sameElements(rE) && g.sameElements(gE) && b.sameElements(bE),
        s"decode != encoder simulation for sampling ${hs}x$vs ri=$ri")
      // gray contract: decodeLumaGray on a color file returns the luma
      // plane (achromatic plants → the DC-only Y blocks are exact)
      val (gw, gh, _) = Jpeg.decodeLumaGray(bytes).get
      assert(gw == 37 && gh == 22)
    }
    // chroma-neutral color file: Cb = Cr = 128 (level 0) makes R=G=B=Y
    // exactly under the integer convert — the formula's sanity anchor
    val (nb, (nr, ng, nbl)) = Jpeg.makeJpegColor(16, 16, 2, 2, 0,
      (c, _, _) => { val a = new Array[Int](64); if (c == 0) a(0) = 31; a })
    val (_, _, dr, dg, db) = Jpeg.decodeRgb(nb).get
    assert(dr.forall(_ == 159) && dg.forall(_ == 159) && db.forall(_ == 159))
    assert(nr.sameElements(dr) && ng.sameElements(dg) && nbl.sameElements(db))
    // poison: a wrong restart sequence number must reject
    val (rb, _) = Jpeg.makeJpegColor(37, 22, 2, 2, 2, levels)
    var i = 2
    var broke = false
    while (!broke && i + 1 < rb.length) {
      if ((rb(i) & 0xff) == 0xff && (rb(i + 1) & 0xff) == 0xd0) {
        rb(i + 1) = 0xd5.toByte; broke = true // RST0 → RST5 out of order
      }
      i += 1
    }
    assert(broke && Jpeg.decodeRgb(rb).isEmpty,
      "out-of-sequence RSTn must reject")
    // poison: truncation inside the color scan
    val (tb, _) = Jpeg.makeJpegColor(24, 17, 2, 1, 0, levels)
    for (cut <- Seq(30, tb.length / 2, tb.length - 1))
      assert(Jpeg.decodeRgb(tb.take(cut)).isEmpty, s"truncated at $cut")
    // subset boundary: 2x2 luma with 2x1 chroma (subsampled-luma-like
    // mismatch outside the JFIF family) must reject — flip Cb's HV
    val (sb, _) = Jpeg.makeJpegColor(24, 17, 2, 2, 0, levels)
    var j = 2
    var flippedHv = false
    while (!flippedHv && j + 9 < sb.length) {
      if ((sb(j) & 0xff) == 0xff && (sb(j + 1) & 0xff) == 0xc0) {
        // SOF0: len(2) P(1) Y(2) X(2) Nf(1) then (id, hv, tq) triples —
        // Cb's hv byte is marker+14
        sb(j + 14) = 0x21.toByte // Cb sampling 1x1 → 2x1
        flippedHv = true
      }
      j += 1
    }
    assert(flippedHv && Jpeg.decodeRgb(sb).isEmpty,
      "non-1x1 chroma sampling is out of subset and must reject")
  }

  test("JPEG progressive (SOF2): the libjpeg 10-scan script round-trips — " +
      "EOBn runs, ZRL-in-refinement, correction-bit weaving, point " +
      "transforms, spectral bands, the NI-vs-MCU block grids, and " +
      "in-scan restarts") {
    import graft.ops.Jpeg
    // sparse plants: all-zero-AC blocks (EOB runs span blocks), high-k
    // coefficients (ZRL + band-end), small magnitudes that vanish under
    // the Al point transform and only appear in refinement scans,
    // negatives and odd DC values (two's-complement refinement bits)
    def levels(c: Int, bx: Int, by: Int): Array[Int] = {
      val a = new Array[Int](64)
      a(0) = ((bx * 7 + by * 5 + c * 11) % 61) - 30
      if ((bx + by + c) % 3 != 0) {
        a(1 + (bx + c) % 4) = ((bx + by) % 15) - 7
        a(20 + (by % 3) * 11) = if ((bx + by + c) % 2 == 0) 5 else -6
        a(63) = ((bx + c) % 3) - 1
      }
      a
    }
    // the (2,2,…,17,23) case makes the Y non-interleaved grid (3×3
    // blocks) genuinely smaller than the MCU grid (4×4) — AC scans must
    // walk the former while DC scans cover the latter
    for ((hs, vs, ri, w, h) <- Seq((2, 2, 0, 48, 32), (1, 1, 3, 40, 24),
        (2, 1, 0, 44, 28), (1, 2, 2, 24, 40), (2, 2, 5, 17, 23))) {
      val (bytes, (er, eg, eb)) =
        Jpeg.makeJpegProgressive(w, h, hs, vs, ri, levels)
      val (dw, dh, r, g, b) = Jpeg.decodeRgb(bytes).getOrElse(
        fail(s"progressive ($hs,$vs,ri=$ri,${w}x$h) did not decode"))
      assert(dw == w && dh == h)
      assert(r.sameElements(er) && g.sameElements(eg) && b.sameElements(eb),
        s"progressive ($hs,$vs,ri=$ri,${w}x$h) decode != simulation")
    }
    // the progression is complete (every bit sent), so progressive and
    // baseline files of the SAME levels must decode to the SAME pixels
    val (pb, _) = Jpeg.makeJpegProgressive(32, 24, 1, 1, 0, levels)
    val (bb, _) = Jpeg.makeJpegColor(32, 24, 1, 1, 0, levels)
    val (_, _, pr, pg, pbl) = Jpeg.decodeRgb(pb).get
    val (_, _, br2, bg2, bb2) = Jpeg.decodeRgb(bb).get
    assert(pr.sameElements(br2) && pg.sameElements(bg2) &&
      pbl.sameElements(bb2),
      "completed progression must equal the baseline decode")
    // poisons: EOI before any scan; truncation inside a scan; a
    // refinement Ah that is not Al+1 (patched scan header)
    val (fullB, _) = Jpeg.makeJpegProgressive(24, 16, 1, 1, 0, levels)
    var sos = -1
    var j = 2
    while (sos < 0 && j + 1 < fullB.length) {
      if ((fullB(j) & 0xff) == 0xff && (fullB(j + 1) & 0xff) == 0xda) sos = j
      j += 1
    }
    assert(sos > 0)
    val noScan = fullB.take(sos) ++ Array(0xff.toByte, 0xd9.toByte)
    assert(Jpeg.decodeRgb(noScan).isEmpty, "EOI before any scan")
    for (cut <- Seq(sos + 5, fullB.length / 2, fullB.length - 1))
      assert(Jpeg.decodeRgb(fullB.take(cut)).isEmpty, s"truncated at $cut")
    val badAh = fullB.clone()
    // first SOS is the interleaved DC scan: len 12, AhAl at sos+13;
    // Ah=3 with Al=1 violates the one-bit-at-a-time rule
    assert((badAh(sos + 13) & 0xff) == 0x01)
    badAh(sos + 13) = 0x31.toByte
    assert(Jpeg.decodeRgb(badAh).isEmpty, "Ah != Al+1 must reject")
  }

  test("FLAC: constant/verbatim/fixed/LPC subframes, rice partitions and " +
      "escapes, all three stereo decorrelations, wasted bits, UTF-8 coded " +
      "numbers, and both CRCs round-trip sample-exactly") {
    import graft.ops.Flac
    import graft.ops.Flac.FlacFrameSpec
    // mono, variable-blocksize (sample-number coding, multi-byte UTF-8
    // from frame 2 on): one frame per subframe type, varied rice shapes
    def mono(f: Int, c: Int, k: Int): Int = f match {
      case 0 => 100
      case 1 => ((k * 37 + 11) % 200) - 100
      case 2 => (k * 3) % 50 - 25 + k / 7
      case _ => ((k * k) % 89) - 44
    }
    val specs = Seq(
      FlacFrameSpec(192, 0, 0),
      FlacFrameSpec(256, 0, 1),
      FlacFrameSpec(576, 0, 2, fixedOrder = 2, riceMethod = 1,
        partOrder = 2, riceParam = 6),
      FlacFrameSpec(320, 0, 3, lpcOrder = 3, lpcShift = 2, partOrder = 3,
        riceParam = 7, escapePartitions = true))
    val (bytes, expected) = Flac.makeFlac(44100, 1, 16, specs, mono,
      variableBlocks = true)
    val dec = Flac.decodeFlac(bytes).getOrElse(fail("mono flac rejected"))
    assert(dec.sampleRate == 44100 && dec.channels == 1 && dec.bps == 16)
    assert(dec.samples(0).sameElements(expected(0)),
      "mono decode != planted samples")
    assert(dec.samples(0).length == 192 + 256 + 576 + 320)
    // stereo, fixed-blocksize: independent + left/side + right/side +
    // mid/side (the side channel rides bps+1), fixed and LPC predictors
    def st(f: Int, c: Int, k: Int): Int =
      if (c == 0) ((k * 13 + f * 7) % 120) - 60
      else ((k * 5 + 3) % 90) - 45
    val sspecs = Seq(
      FlacFrameSpec(256, 1, 1),
      FlacFrameSpec(256, 8, 2, riceParam = 5),
      FlacFrameSpec(256, 9, 2, riceParam = 5),
      FlacFrameSpec(256, 10, 3, lpcOrder = 2, partOrder = 1,
        riceParam = 6))
    val (b2, e2) = Flac.makeFlac(48000, 2, 16, sspecs, st)
    val d2 = Flac.decodeFlac(b2).getOrElse(fail("stereo flac rejected"))
    assert(d2.samples(0).sameElements(e2(0)), "left channel drifted")
    assert(d2.samples(1).sameElements(e2(1)), "right channel drifted")
    // wasted bits: 12-bit samples all divisible by 4 → coded at 10 bits
    // with a 2-bit shift, and the file must be smaller than without
    val (b3, e3) = Flac.makeFlac(32000, 1, 12,
      Seq(FlacFrameSpec(192, 0, 2, wastedBits = 2, riceParam = 3)),
      (_, _, k) => (((k * 7) % 100) - 50) * 4)
    val d3 = Flac.decodeFlac(b3).getOrElse(fail("wasted-bits rejected"))
    assert(d3.samples(0).sameElements(e3(0)), "wasted-bits drifted")
    // 4 channels at 20-bit, non-table rate (uncommon 16-bit Hz form)
    val (b4, e4) = Flac.makeFlac(11025, 4, 20,
      Seq(FlacFrameSpec(192, 3, 2, riceParam = 6)),
      (_, c, k) => ((k * 11 + c * 29) % 1000 - 500) * 16)
    val d4 = Flac.decodeFlac(b4).getOrElse(fail("4ch/20-bit rejected"))
    assert(d4.channels == 4 && d4.bps == 20 && d4.sampleRate == 11025)
    for (c <- 0 until 4)
      assert(d4.samples(c).sameElements(e4(c)), s"channel $c drifted")
    // 130 fixed-blocksize frames: frame numbers cross the multi-byte
    // UTF-8 boundary at 128
    val many = Seq.tabulate(130)(_ =>
      FlacFrameSpec(192, 0, 2, riceParam = 4))
    val (b5, e5) = Flac.makeFlac(8000, 1, 16, many,
      (f, _, k) => ((f * 31 + k * 3) % 256) - 128)
    val d5 = Flac.decodeFlac(b5).getOrElse(fail("130-frame stream rejected"))
    assert(d5.samples(0).sameElements(e5(0)))
    // poisons: any bit flip lands on a CRC/sync failure; truncation and
    // magic corruption reject
    for (off <- Seq(bytes.length - 9, bytes.length / 2, 60)) {
      val bad = bytes.clone()
      bad(off) = (bad(off) ^ 0x10).toByte
      assert(Flac.decodeFlac(bad).isEmpty, s"bit flip at $off must reject")
    }
    assert(Flac.decodeFlac(bytes.take(bytes.length - 3)).isEmpty)
    assert(Flac.decodeFlac(bytes.take(50)).isEmpty)
    val badMagic = bytes.clone(); badMagic(0) = 'g'.toByte
    assert(Flac.decodeFlac(badMagic).isEmpty)
    // the A/V metadata sniff serves FLAC STREAMINFO header-only:
    // 44100 Hz mono, 1344 total samples → 30 ms
    assert(Multimodal.decodeAvMeta(bytes) == (("flac", 1, 44100,
      1344L * 1000 / 44100)))
    assert(Multimodal.decodeAvMeta(b2) == (("flac", 2, 48000,
      1024L * 1000 / 48000)))
  }

  test("VP8 token partitions: 2/4/8-partition frames (§9.5 size table + " +
      "row-mod-N routing) decode identically to the 1-partition stream, " +
      "and a truncated partition or oversized size field rejects") {
    import graft.ops.Vp8
    // AC-textured frame tall enough that every partition of an 8-way
    // split carries at least one MB row (6 rows of 96px height)
    def mode(mx: Int, my: Int): Int = (mx + my * 3) % 4
    def y2(mx: Int, my: Int): Array[Int] = {
      val a = new Array[Int](16)
      a(0) = ((mx * 47 + my * 31) % 161) - 80
      if ((mx + my) % 2 == 0) a(3) = -5
      a
    }
    def yl(mx: Int, my: Int, b: Int): Array[Int] = {
      val a = new Array[Int](16)
      if ((mx + my + b) % 3 == 0) { a(2) = (b % 7) - 3; a(11) = my % 2 }
      a
    }
    val (ref, expected) = Vp8.makeWebpLossyFrame(40, 96, mode, y2, yl)
    val (_, _, gRef) = Multimodal.decodeGray(ref).get
    assert(gRef.sameElements(expected))
    for (np <- Seq(2, 4, 8)) {
      val (bytes, exp) = Vp8.makeWebpLossyFrame(40, 96, mode, y2, yl,
        nTokenParts = np)
      assert(bytes.length > ref.length,
        s"$np-partition file must carry the size table")
      val (dw, dh, g) = Multimodal.decodeGray(bytes).getOrElse(
        fail(s"$np-partition frame did not decode"))
      assert(dw == 40 && dh == 96)
      assert(g.sameElements(expected) && exp.sameElements(expected),
        s"$np-partition decode diverges from the 1-partition reference")
      // poison: truncating the chunk cuts the LAST partition short
      assert(Multimodal.decodeGray(bytes.take(bytes.length - 9)).isEmpty,
        s"$np-partition truncated tail must reject")
    }
    // poison: corrupt the first 3-byte size so partition 0 overruns
    val (b4, _) = Vp8.makeWebpLossyFrame(40, 96, mode, y2, yl,
      nTokenParts = 4)
    // locate the size table: 20-byte container header + 10-byte frame
    // header + first_part_size (from the tag)
    val tag = (b4(20) & 0xff) | ((b4(21) & 0xff) << 8) | ((b4(22) & 0xff) << 16)
    val sizeTable = 30 + (tag >> 5)
    val broken = b4.clone()
    broken(sizeTable + 2) = 0x7f.toByte // ~8 MB claimed > chunk
    assert(Multimodal.decodeGray(broken).isEmpty,
      "a partition size past the chunk end must reject")
  }

  test("VP8 inter frames: an IVF key+inter stream round-trips — ZERO/" +
      "NEAREST/NEAR/NEW modes, whole-pel and sixtap subpel MC, planted " +
      "residuals, reference refresh, and edge-clamped off-frame MVs") {
    import graft.ops.Vp8
    val w = 64
    val h = 48
    // key frame: AC-textured so the reference planes are non-trivial
    def kMode(mx: Int, my: Int): Int = (mx + my) % 4
    def kY2(mx: Int, my: Int): Array[Int] = {
      val a = new Array[Int](16)
      a(0) = ((mx * 53 + my * 29) % 161) - 80
      a
    }
    def kYl(mx: Int, my: Int, b: Int): Array[Int] = {
      val a = new Array[Int](16)
      if ((mx + my + b) % 3 == 0) a(2) = ((b + mx) % 9) - 4
      a
    }
    val (keyWebp, keyY, keyU, keyV) =
      Vp8.makeWebpLossyFrameYuv(w, h, kMode, kY2, kYl)
    val keyPayload = Vp8.webpVp8Payload(keyWebp)
    // inter frame 1: all-skip ZEROMV — must reproduce the key exactly
    val zero16 = new Array[Int](16)
    val (p1, y1, u1, v1) = Vp8.makeInterFramePayload(w, h,
      _ => (keyY, keyU, keyV),
      (_, _) => Vp8.InterMbSpec(graft.ops.Vp8.MvZero),
      (_, _) => zero16, (_, _, _) => zero16)
    assert(y1.sameElements(keyY) && u1.sameElements(keyU) &&
      v1.sameElements(keyV),
      "skip-ZEROMV simulation must equal the reference frame")
    // inter frame 2: mixed modes against frame 1 —
    //  MB(0,0): NEW whole-pel (+8,+16)/8 = (+1 right, +2 down px)
    //  MB(1,0): NEW subpel (half-pel horizontal)
    //  MB(2,0): NEW clamped to the far-left margin (off-frame source)
    //  MB(3,0): NEAREST (inherits MB(2,0)'s MV via the survey)
    //  row 1:   ZERO with planted Y2 residuals
    //  row 2:   NEAR / ZERO mix with chroma residuals
    def mb2(mx: Int, my: Int): Vp8.InterMbSpec =
      if (my == 0) mx match {
        case 0 => Vp8.InterMbSpec(Vp8.MvNew, 1, 16, 8)
        case 1 => Vp8.InterMbSpec(Vp8.MvNew, 1, 0, 4)
        case 2 => Vp8.InterMbSpec(Vp8.MvNew, 1, 0, -128 - 2 * 16 * 8)
        case _ => Vp8.InterMbSpec(Vp8.MvNearest)
      }
      else if (my == 1) Vp8.InterMbSpec(Vp8.MvZero)
      else if (mx % 2 == 0) Vp8.InterMbSpec(Vp8.MvNear)
      else Vp8.InterMbSpec(Vp8.MvZero)
    def y2_2(mx: Int, my: Int): Array[Int] = {
      val a = new Array[Int](16)
      if (my == 1) a(0) = (mx * 23 % 41) - 20
      a
    }
    def uv2(mx: Int, my: Int, pl: Int, cb: Int): Array[Int] = {
      val a = new Array[Int](16)
      if (my == 2 && pl == 1 && cb == 0) a(0) = 7
      a
    }
    val (p2, y2, u2, v2) = Vp8.makeInterFramePayload(w, h,
      _ => (y1, u1, v1), mb2, y2_2, (_, _, _) => zero16, uv2)
    val ivf = Vp8.makeIvf(w, h, Seq(keyPayload, p1, p2))
    val (dw, dh, frames) = Vp8.decodeIvf(ivf).getOrElse(
      fail("IVF stream did not decode"))
    assert(dw == w && dh == h && frames.length == 3)
    assert(frames(0)._1.sameElements(keyY) &&
      frames(0)._2.sameElements(keyU) && frames(0)._3.sameElements(keyV))
    assert(frames(1)._1.sameElements(y1), "ZEROMV frame luma diverged")
    assert(frames(2)._1.sameElements(y2) && frames(2)._2.sameElements(u2) &&
      frames(2)._3.sameElements(v2),
      "mixed-mode inter frame diverged from the encoder simulation")
    // whole-pel NEW (+1 px right, +2 px down): independent check
    // against the reference frame itself, no shared MC code
    for (r <- 0 until 14; c <- 0 until 15)
      assert(frames(2)._1(r * w + c) == y1((r + 2) * w + c + 1),
        s"whole-pel MC drifted at ($c,$r)")
    // subpel half-pel horizontal in MB(1,0): hand-evaluate the
    // {3,-16,77,77,-16,3} tap on the reference row
    val fy = 0
    val r0 = 3
    val cTest = 20 // inside MB(1,0), window c-2..c+3 in-frame
    var s = 64
    val taps = Array(3, -16, 77, 77, -16, 3)
    for (k <- 0 until 6) s += taps(k) * y1(r0 * w + cTest + k - 2)
    val expect = math.max(0, math.min(255, s >> 7))
    assert(frames(2)._1(r0 * w + cTest) == expect,
      "sixtap half-pel arithmetic drifted")
    assert(fy == 0)
    // off-frame clamped MV in MB(2,0): source window fully in the
    // replicated left border → every pixel equals the row's column-0
    // value of the reference
    for (r <- 0 until 16)
      assert(frames(2)._1(r * w + 32) == y1(r * w),
        s"edge-replicated MC drifted at row $r")
    // container poisons: bad fourcc, truncated frame, dim mismatch
    val bad1 = ivf.clone(); bad1(8) = 'X'.toByte
    assert(Vp8.decodeIvf(bad1).isEmpty)
    assert(Vp8.decodeIvf(ivf.take(ivf.length - 7)).isEmpty)
    val bad2 = ivf.clone(); bad2(12) = ((w + 16) & 0xff).toByte
    assert(Vp8.decodeIvf(bad2).isEmpty, "container/frame dim mismatch")
  }

  test("PNG filters: Sub/Up/Average/Paeth scanlines (deflate-compressed, " +
      "per-row adaptive) reconstruct exactly, including Paeth tie-breaks") {
    // textured plant with sharp jumps so every filter type produces
    // nontrivial deltas and the Paeth predictor hits all three arms
    def pix(x: Int, y: Int): Int = (x * 37 + y * 91 + (x * y) % 13 * 55) % 256
    // each filter type as the sole filter, then the adaptive cycle
    for (mode <- 0 to 5) {
      val fOf: Int => Int = if (mode <= 4) _ => mode else y => y % 5
      val bytes = Multimodal.makePngFiltered(23, 17, pix, fOf)
      val (w, h, g) = Multimodal.decodeGray(bytes).getOrElse(
        fail(s"filtered png (mode $mode) did not decode"))
      assert(w == 23 && h == 17)
      for (y <- 0 until h; x <- 0 until w)
        assert(g(y * w + x) == pix(x, y),
          s"filter mode $mode drifted at ($x,$y)")
    }
    // Adam7 (r14): interlaced files carry 7 independently-filtered
    // sub-images scattered on the 8×8 grid — pixel-identical to the
    // sequential coding; odd dims leave some passes empty
    for ((w, h) <- Seq((23, 17), (8, 8), (7, 5), (1, 1), (16, 3), (3, 16))) {
      val b = Multimodal.makePngFiltered(w, h, pix, y => y % 5,
        interlaced = true)
      assert((b(28) & 0xff) == 1, "IHDR interlace byte must be 1")
      val (dw, dh, g) = Multimodal.decodeGray(b).getOrElse(
        fail(s"adam7 ${w}x$h rejected"))
      assert(dw == w && dh == h)
      for (y <- 0 until h; x <- 0 until w)
        assert(g(y * w + x) == pix(x, y), s"adam7 ${w}x$h drifted at ($x,$y)")
    }
    // the two codings differ on the wire but not in pixels
    val seq0 = Multimodal.makePngFiltered(23, 17, pix, _ => 0)
    val il0 = Multimodal.makePngFiltered(23, 17, pix, _ => 0,
      interlaced = true)
    assert(!seq0.sameElements(il0))
    assert(Multimodal.decodeGray(seq0).get._3.sameElements(
      Multimodal.decodeGray(il0).get._3))
    // poison: an unknown filter type must reject (patch the raw stream
    // by rebuilding with an illegal type via the unfilter entry point)
    val raw = new Array[Byte](17 * (1 + 3 * 23))
    raw(0) = 5 // filter type 5 does not exist
    assert(!Multimodal.pngUnfilter(raw, 23, 17))
  }

  test("VP8 intra-in-inter: 16x16 DC/V/H/TM macroblocks inside an inter " +
      "frame predict from the frame's own reconstruction and round-trip") {
    import graft.ops.Vp8
    val w = 64
    val h = 32
    val (keyWebp, keyY, keyU, keyV) = Vp8.makeWebpLossyFrameYuv(w, h,
      (mx, my) => (mx + my) % 4,
      (mx, my) => { val a = new Array[Int](16); a(0) = (mx * 31 - my * 17) % 90; a },
      (_, _, _) => new Array[Int](16))
    val zero16 = new Array[Int](16)
    // inter frame: row 0 ZERO (copies the key), row 1 all four intra
    // modes side by side, predicting from the in-frame row-0 recon
    def mbOf(mx: Int, my: Int): Vp8.InterMbSpec =
      if (my == 0) Vp8.InterMbSpec(Vp8.MvZero)
      else Vp8.InterMbSpec(0, intraYMode = mx % 4, intraUvMode = (mx + 1) % 4)
    def y2Of(mx: Int, my: Int): Array[Int] = {
      val a = new Array[Int](16)
      if (my == 1 && mx % 2 == 0) a(0) = 11 - mx
      a
    }
    val (p1, y1, u1, v1) = Vp8.makeInterFramePayload(w, h,
      _ => (keyY, keyU, keyV), mbOf, y2Of, (_, _, _) => zero16)
    val ivf = Vp8.makeIvf(w, h, Seq(Vp8.webpVp8Payload(keyWebp), p1))
    val (_, _, frames) = Vp8.decodeIvf(ivf).getOrElse(
      fail("intra-in-inter stream did not decode"))
    assert(frames(1)._1.sameElements(y1) && frames(1)._2.sameElements(u1) &&
      frames(1)._3.sameElements(v1),
      "intra-in-inter decode diverges from the encoder simulation")
    // independent pin: the V-pred MB(1,1) column-copies row 15's recon
    for (c <- 16 until 32)
      assert(frames(1)._1(20 * w + c) == frames(1)._1(15 * w + c),
        s"V_PRED in inter frame must copy the row above at col $c")
    // B_PRED-in-inter: context-FREE sub-modes (§11.2) with planted 4x4
    // residuals, mixed with ZERO-mv MBs, round-trips exactly
    def mbOfB(mx: Int, my: Int): Vp8.InterMbSpec =
      if (my == 0) Vp8.InterMbSpec(Vp8.MvZero)
      else if (mx % 2 == 0) Vp8.InterMbSpec(0, intraYMode = 4) // B_PRED
      else Vp8.InterMbSpec(0, intraYMode = 3) // TM
    def ylB(mx: Int, my: Int, b: Int): Array[Int] = {
      val a = new Array[Int](16)
      if (my == 1 && mx % 2 == 0 && (b + mx) % 3 == 0) {
        a(0) = (b * 7 - mx * 3) % 30 // B_PRED owns coeff 0 (no Y2)
        a(4) = b % 5 - 2
      }
      a
    }
    val (pB, yB, uB, vB) = Vp8.makeInterFramePayload(w, h,
      _ => (keyY, keyU, keyV), mbOfB, (_, _) => zero16, ylB,
      bModeOf = (mx, _, b) => (b * 3 + mx) % 10 match {
        // avoid the above-right-in-rightmost-column subset line
        case m if mx == 3 && b % 4 == 3 && Seq(2, 4, 7).contains(m) => 0
        case m => m
      })
    val ivfB = Vp8.makeIvf(w, h, Seq(Vp8.webpVp8Payload(keyWebp), pB))
    val (_, _, framesB) = Vp8.decodeIvf(ivfB).getOrElse(
      fail("B_PRED-in-inter stream did not decode"))
    assert(framesB(1)._1.sameElements(yB) && framesB(1)._2.sameElements(uB) &&
      framesB(1)._3.sameElements(vB),
      "B_PRED-in-inter decode diverges from the encoder simulation")
  }

  test("VP8 SPLITMV: all four partition styles with LEFT/ABOVE/ZERO/NEW " +
      "sub-modes, per-block MC, averaged chroma MVs, and planted " +
      "residuals round-trip bit-exactly") {
    import graft.ops.Vp8
    val w = 64
    val h = 64
    // textured reference so block motion is observable
    val (keyWebp, keyY, keyU, keyV) = Vp8.makeWebpLossyFrameYuv(w, h,
      (mx, my) => (mx * 7 + my * 3) % 4,
      (mx, my) => { val a = new Array[Int](16)
        a(0) = ((mx * 41 + my * 59) % 121) - 60; a },
      (mx, my, b) => { val a = new Array[Int](16)
        if ((mx + my + b) % 4 == 1) a(3) = (b % 7) - 3; a })
    val zero16 = new Array[Int](16)
    // one MB per style in row 0 (styles 0..3), row 1 mixes NEAREST with
    // another 4x4 split whose targets hit LEFT/ABOVE/ZERO copies
    def mbOf(mx: Int, my: Int): Vp8.InterMbSpec =
      if (my == 0) Vp8.InterMbSpec(Vp8.MvSplit, splitStyle = mx % 4)
      else if (my == 1 && mx == 1) Vp8.InterMbSpec(Vp8.MvSplit, splitStyle = 3)
      else if (my == 1) Vp8.InterMbSpec(Vp8.MvNearest)
      else Vp8.InterMbSpec(Vp8.MvZero)
    // partition targets: mix of zero, whole-pel, and subpel MVs; the
    // 4x4-split MB at (1,1) repeats its left/above values so the
    // encoder exercises the LEFT4X4/ABOVE4X4 copy modes
    def splitMvOf(mx: Int, my: Int, j: Int): (Int, Int) =
      if (my == 0) (if (j % 2 == 0) 8 else 0, (j % 3 - 1) * 8)
      else if (j < 2) (0, 0) // ZERO copies
      else if (j % 4 == 2) (8, 8)
      else (8, 8) // repeats → LEFT/ABOVE copies kick in
    def y2Of(mx: Int, my: Int): Array[Int] = {
      val a = new Array[Int](16)
      if (my == 2) a(0) = (mx * 13) % 31 - 15
      a
    }
    def ylOf(mx: Int, my: Int, b: Int): Array[Int] = {
      val a = new Array[Int](16)
      if (my <= 1 && (b + mx) % 5 == 0) { a(0) = (b - mx) % 9; a(7) = b % 3 - 1 }
      a
    }
    val (p1, y1, u1, v1) = Vp8.makeInterFramePayload(w, h,
      _ => (keyY, keyU, keyV), mbOf, y2Of, ylOf, splitMvOf = splitMvOf)
    val ivf = Vp8.makeIvf(w, h, Seq(Vp8.webpVp8Payload(keyWebp), p1))
    val (_, _, frames) = Vp8.decodeIvf(ivf).getOrElse(
      fail("SPLITMV stream did not decode"))
    assert(frames(1)._1.sameElements(y1) && frames(1)._2.sameElements(u1) &&
      frames(1)._3.sameElements(v1),
      "SPLITMV decode diverges from the encoder simulation")
    // independent pin: a whole-pel (8,0)/8=(+1 row) block in the style-0
    // 16x8 MB(0,0): partition 0 (top half) has mv (+1px down, -1px? ...
    // j=0 → (8, -8): +1px down, -1px left); residual-free columns copy
    // the reference shifted — pick block b=1 area with no resid plant
    // (b=1, mx=0: (1+0)%5 != 0 → no plant): rows 0..3, cols 4..7
    for (r <- 0 until 4; c <- 4 until 8)
      assert(frames(1)._1(r * w + c) == keyY((r + 1) * w + c - 1),
        s"split whole-pel MC drifted at ($c,$r)")
  }

  test("VP8 reference buffers: golden refresh/copy plans route MC to the " +
      "right frame — a stale golden serves pre-update pixels while last " +
      "tracks the newest reconstruction") {
    import graft.ops.Vp8
    val w = 32
    val h = 32
    val zero16 = new Array[Int](16)
    // key frame: constant 100 (refreshes last+golden+altref)
    val keyWebp = Vp8.makeWebpLossy(w, h, (_, _) => 100)
    val keyPayload = Vp8.webpVp8Payload(keyWebp)
    val (_, _, kY, kU, kV) = Vp8.decodeYuv(keyWebp).get
    // frame 1: ZERO + residual +40 everywhere (→ 140), refreshes LAST
    // only — golden stays at the key frame's 100
    val d = new Array[Int](16); d(0) = 4 * 40
    val (p1, y1, u1, v1) = Vp8.makeInterFramePayload(w, h,
      _ => (kY, kU, kV), (_, _) => Vp8.InterMbSpec(Vp8.MvZero),
      (_, _) => d, (_, _, _) => zero16)
    assert(y1.forall(_ == 140))
    // frame 2: half the MBs reference GOLDEN (→ 100), half LAST (→ 140)
    val refs2: Int => (Array[Int], Array[Int], Array[Int]) = {
      case 2 => (kY, kU, kV) // golden = key
      case _ => (y1, u1, v1) // last = frame 1
    }
    val (p2, y2, _, _) = Vp8.makeInterFramePayload(w, h, refs2,
      (mx, _) => Vp8.InterMbSpec(Vp8.MvZero, refIdx = if (mx == 0) 2 else 1),
      (_, _) => zero16, (_, _, _) => zero16)
    val ivf = Vp8.makeIvf(w, h, Seq(keyPayload, p1, p2))
    val (_, _, frames) = Vp8.decodeIvf(ivf).getOrElse(
      fail("golden-reference stream did not decode"))
    assert(frames(2)._1.sameElements(y2))
    for (r <- 0 until h) {
      assert(frames(2)._1(r * w) == 100,
        "golden-referencing MB must serve the key frame's pixels")
      assert(frames(2)._1(r * w + 16) == 140,
        "last-referencing MB must serve frame 1's pixels")
    }
    // refresh-golden plan: frame 1' refreshes golden too; then a
    // golden-referencing frame reads the NEW pixels
    val (p1g, y1g, u1g, v1g) = Vp8.makeInterFramePayload(w, h,
      _ => (kY, kU, kV), (_, _) => Vp8.InterMbSpec(Vp8.MvZero),
      (_, _) => d, (_, _, _) => zero16, refreshGold = true)
    val (p2g, _, _, _) = Vp8.makeInterFramePayload(w, h,
      _ => (y1g, u1g, v1g),
      (_, _) => Vp8.InterMbSpec(Vp8.MvZero, refIdx = 2),
      (_, _) => zero16, (_, _, _) => zero16)
    val ivfG = Vp8.makeIvf(w, h, Seq(keyPayload, p1g, p2g))
    val (_, _, framesG) = Vp8.decodeIvf(ivfG).get
    assert(framesG(2)._1.forall(_ == 140),
      "after refresh_golden the golden reference must serve frame 1'")
  }

  test("VP8 segmentation: per-segment quantizers in absolute and delta " +
      "mode, the tree-coded map, the map-off segment-0 default, and the " +
      "closed-form DC chain per segment") {
    import graft.ops.Vp8
    val zero = new Array[Int](16)
    // 4 MBs across, map mx → segment mx, absolute y_ac quant indices
    // with very different step sizes; each MB plants one Y2 DC level
    val qAbs = Array(4, 20, 60, 100)
    def y2(mx: Int, my: Int): Array[Int] = {
      val a = new Array[Int](16); a(0) = 3 + mx; a
    }
    val (bAbs, eAbs, _, _) = Vp8.makeWebpLossyFrameYuv(64, 16,
      (_, _) => 0, y2, (_, _, _) => zero,
      segQIdx = qAbs, segOf = (mx, _) => mx)
    val (dw, dh, dy, _, _) = Vp8.decodeYuv(bAbs).getOrElse(
      fail("segmented (absolute) key frame did not decode"))
    assert(dw == 64 && dh == 16)
    assert(dy.sameElements(eAbs), "absolute-mode decode != simulation")
    // closed-form check, independent of the shared transforms: DC_PRED
    // chains left-to-right, each MB adds (((L·y2dcQ + 3) >> 3) + 4) >> 3
    // with y2dcQ = 2·dc_qlookup(qi) = 16/42/110/196 for qi 4/20/60/100
    val y2dcQ = Array(16, 42, 110, 196)
    var pred = 128
    for (mx <- 0 until 4) {
      val dc = ((3 + mx) * y2dcQ(mx) + 3) >> 3
      val t = pred + ((dc + 4) >> 3)
      assert(dy(8 * 64 + mx * 16 + 8) == t,
        s"segment $mx quantizer drifted: got ${dy(8 * 64 + mx * 16 + 8)}, " +
          s"want $t")
      pred = t
    }
    // the same effective indices coded as DELTAS off the frame base
    // (qi 4): identical pixels through a different header layout
    val (bDel, eDel, _, _) = Vp8.makeWebpLossyFrameYuv(64, 16,
      (_, _) => 0, y2, (_, _, _) => zero,
      segQIdx = Array(0, 16, 56, 96), segOf = (mx, _) => mx,
      segDeltaMode = true)
    assert(!bDel.sameElements(bAbs), "delta frame must differ in coding")
    assert(eDel.sameElements(eAbs), "delta-mode simulation diverged")
    assert(Vp8.decodeYuv(bDel).get._3.sameElements(eAbs),
      "delta-mode decode diverged from the absolute-mode pixels")
    // segmentation enabled but the map NOT coded: every MB decodes as
    // segment 0 (the libvpx default), i.e. the same pixels as a frame
    // whose four segments all carry segment 0's index
    val (bOff, eOff, _, _) = Vp8.makeWebpLossyFrameYuv(64, 16,
      (_, _) => 0, y2, (_, _, _) => zero,
      segQIdx = qAbs, segOf = (mx, _) => mx, segCodeMap = false)
    val (bAll0, eAll0, _, _) = Vp8.makeWebpLossyFrameYuv(64, 16,
      (_, _) => 0, y2, (_, _, _) => zero,
      segQIdx = Array(4, 4, 4, 4), segOf = (_, _) => 0)
    assert(eOff.sameElements(eAll0))
    assert(Vp8.decodeYuv(bOff).get._3.sameElements(eAll0),
      "map-off frame must decode every MB as segment 0")
    assert(!eOff.sameElements(eAbs),
      "fixture must make the map matter (segments differ)")
    // per-segment loop-filter levels (absolute): segment 1 carries
    // level 0, so MB 1's left edge must stay sharp while MB 2's (level
    // 40) filters — the per-MB level routing through the map
    val vals = Array(100, 110, 100, 110)
    def y2c(mx: Int, my: Int): Array[Int] = {
      val a = new Array[Int](16)
      a(0) = (vals(mx) - (if (mx == 0) 128 else vals(mx - 1))) * 4
      a
    }
    val (bLf, eLf, _, _) = Vp8.makeWebpLossyFrameYuv(64, 16,
      (_, _) => 0, y2c, (_, _, _) => zero,
      filterLevel = 40, segQIdx = Array(4, 4, 4, 4),
      segLfLvl = Array(40, 0, 40, 40), segOf = (mx, _) => mx)
    val gLf = Vp8.decodeYuv(bLf).get._3
    assert(gLf.sameElements(eLf), "segment-lf decode != simulation")
    assert(gLf(8 * 64 + 15) == 100 && gLf(8 * 64 + 16) == 110,
      "a level-0 segment must not filter its left edge")
    assert(gLf(8 * 64 + 47) != 100 || gLf(8 * 64 + 48) != 110,
      "a level-40 segment must filter its left edge")
  }

  test("VP8 segmentation across inter frames: feature data persists in " +
      "the stream state, a key frame resets it, and the §15.2 non-key " +
      "hev-threshold table applies to inter frames") {
    import graft.ops.Vp8
    val zero = new Array[Int](16)
    val w = 64
    val h = 16
    val qAbs = Array(4, 20, 60, 100)
    // key frame: segmentation with absolute data, flat 128 luma
    val (kb, ky, ku, kv) = Vp8.makeWebpLossyFrameYuv(w, h,
      (_, _) => 0, (_, _) => zero, (_, _, _) => zero,
      segQIdx = qAbs, segOf = (_, _) => 0)
    // inter frame: segmentation enabled, map coded, feature data NOT
    // written — the decoder must serve the key frame's persisted
    // absolute indices; ZEROMV everywhere with per-MB Y2 plants whose
    // dequant depends on the per-segment quantizer
    def iy2(mx: Int, my: Int): Array[Int] = {
      val a = new Array[Int](16); a(0) = 5; a
    }
    val (p1, y1, u1, v1) = Vp8.makeInterFramePayload(w, h,
      _ => (ky, ku, kv),
      (_, _) => Vp8.InterMbSpec(Vp8.MvZero),
      iy2, (_, _, _) => zero,
      segQIdx = qAbs, segOf = (mx, _) => mx, segWriteData = false)
    val ivf = Vp8.makeIvf(w, h, Seq(Vp8.webpVp8Payload(kb), p1))
    val (_, _, frames) = Vp8.decodeIvf(ivf).getOrElse(
      fail("segmented inter stream did not decode"))
    assert(frames(0)._1.sameElements(ky))
    assert(frames(1)._1.sameElements(y1),
      "persisted segment data must drive the inter frame's quantizers")
    // the four MBs must differ (same planted level, four quantizers)
    val mbVals = (0 until 4).map(mx => frames(1)._1(8 * w + mx * 16 + 8))
    assert(mbVals.distinct.length == 4,
      s"per-segment quantizers must separate the planted MBs: $mbVals")
    // a SECOND key frame (segmentation off) resets the persisted data
    // (libvpx init_frame): an inter frame that then relies on persisted
    // values sees delta-mode zeros — every segment decodes at the frame
    // base index and the planted MBs come out EQUAL
    val (kb2, ky2, ku2, kv2) = Vp8.makeWebpLossyFrameYuv(w, h,
      (_, _) => 0, (_, _) => zero, (_, _, _) => zero)
    val (p2, y2b, _, _) = Vp8.makeInterFramePayload(w, h,
      _ => (ky2, ku2, kv2),
      (_, _) => Vp8.InterMbSpec(Vp8.MvZero),
      iy2, (_, _, _) => zero,
      segQIdx = Array(4, 4, 4, 4), segOf = (mx, _) => mx,
      segWriteData = false)
    val ivf2 = Vp8.makeIvf(w, h,
      Seq(Vp8.webpVp8Payload(kb), Vp8.webpVp8Payload(kb2), p2))
    val (_, _, frames2) = Vp8.decodeIvf(ivf2).getOrElse(
      fail("reset stream did not decode"))
    assert(frames2(2)._1.sameElements(y2b),
      "post-reset inter frame must decode at the base quantizer")
    val mbVals2 = (0 until 4).map(mx => frames2(2)._1(8 * w + mx * 16 + 8))
    assert(mbVals2.distinct.length == 1,
      s"key-frame reset must zero the segment features: $mbVals2")
    // §15.2: at level 25 a |p1-p0| = 2 spike is high-variance under the
    // KEY-frame table (hevT 1 → two-tap) but NOT under the inter table
    // (hevT 2 → full wide path) — hand-evaluated, no shared code
    def plane2(): Array[Int] = {
      val p = new Array[Int](32 * 16)
      var i = 0
      while (i < p.length) { p(i) = if (i % 32 < 16) 100 else 110; i += 1 }
      for (y <- 0 until 16) p(y * 32 + 14) = 102 // p1 spike of 2
      p
    }
    val noInner = Array(false, false)
    val pInter = plane2()
    Vp8.loopFilterPlane(pInter, 32, 2, 1, 16, 0, 0, Array(25, 25), noInner,
      keyFrame = false)
    for (y <- 0 until 16) {
      val row = (12 to 19).map(x => pInter(y * 32 + x))
      assert(row == Seq(100, 102, 105, 105, 105, 107, 108, 110),
        s"inter hev table (wide path), row $y: $row")
    }
    val pKey = plane2()
    Vp8.loopFilterPlane(pKey, 32, 2, 1, 16, 0, 0, Array(25, 25), noInner,
      keyFrame = true)
    for (y <- 0 until 16) {
      val row = (12 to 19).map(x => pKey(y * 32 + x))
      assert(row == Seq(100, 100, 102, 103, 107, 110, 110, 110),
        s"key hev table (two-tap path), row $y: $row")
    }
  }

  test("VP8 IVF key-frame sampling: the header-only census finds key " +
      "positions without entropy decode, and key-only decode survives a " +
      "corrupted inter payload that kills the full decode") {
    import graft.ops.Vp8
    val w = 32
    val h = 32
    val zero16 = new Array[Int](16)
    def keyOf(v: Int) = {
      val webp = Vp8.makeWebpLossy(w, h, (_, _) => v)
      val (_, _, y, u, cv) = Vp8.decodeYuv(webp).get
      (Vp8.webpVp8Payload(webp), y, u, cv)
    }
    val (kA, yA, uA, vA) = keyOf(77)
    val (kB, _, _, _) = keyOf(191)
    val inter = Vp8.makeInterFramePayload(w, h, _ => (yA, uA, vA),
      (_, _) => Vp8.InterMbSpec(Vp8.MvZero),
      (_, _) => zero16, (_, _, _) => zero16)._1
    val ivf = Vp8.makeIvf(w, h, Seq(kA, inter, kB))
    val meta = Vp8.ivfFrameMeta(ivf).get
    assert(meta.map(_._1) == Seq(true, false, true))
    assert(meta.map(_._2) == Seq(kA.length, inter.length, kB.length))
    // full decode works on the intact stream
    assert(Vp8.decodeIvf(ivf).get._3.length == 3)
    // corrupt the inter frame's interior (past its tag): full decode
    // dies, the key sampler never reads those bytes
    val broken = ivf.clone()
    val interOff = 32 + 12 + kA.length + 12
    broken(interOff + 8) = (broken(interOff + 8) ^ 0x5a).toByte
    assert(Vp8.decodeIvf(broken).isEmpty ||
      Vp8.decodeIvf(broken).get._3(1)._1.sameElements(yA) == false,
      "corrupted inter payload must not decode to the original")
    val (sw, sh, keys) = Vp8.decodeIvfKeyFrames(broken).getOrElse(
      fail("key sampling must survive inter-payload corruption"))
    assert(sw == w && sh == h && keys.map(_._1) == Seq(0, 2))
    assert(keys(0)._2.forall(_ == 77) && keys(1)._2.forall(_ == 191))
  }

  test("VP8 bool coder: pseudo-random bit/probability streams round-trip " +
      "exactly (the arithmetic-coding invariant the whole decoder rests on)") {
    // drive the PRIVATE coder through the public fixture path instead:
    // 300 macroblock values = hundreds of mixed-probability bools, token
    // tree paths, cat extra bits, and sign bits; byte-exact reconstruction
    // of every planted value is the round-trip proof
    import graft.ops.Vp8
    val vals = Array.tabulate(20, 15) { (mx, my) =>
      (mx * 37 + my * 89 + (mx * my) % 7 * 31) % 256
    }
    val bytes = Vp8.makeWebpLossy(320, 240, (mx, my) => vals(mx)(my))
    val (_, _, g) = Multimodal.decodeGray(bytes).getOrElse(
      fail("320x240 VP8 frame did not decode"))
    for (my <- 0 until 15; mx <- 0 until 20)
      assert(g(my * 16 * 320 + mx * 16) == vals(mx)(my),
        s"MB ($mx,$my) corner mismatch")
  }

  test("PII scrub: every planted pattern class is counted and replaced, " +
      "and consumed digits never double-count across classes") {
    val planted = Seq(
      (1L, "call +15551234567 or (555) 123-4567 today"),
      (2L, "ssn 123-45-6789 acct 987654321 ok"),
      (3L, "see https://ex.io/a?p=1 mail a.b@ex.io tel 555-123-4567 id 123456789012"),
      (4L, "born 1995-01-01 at 12:34:56 — a date is not a phone"),
      (5L, "hex deadbeef0042 and inword12345678901x stay"),
      (6L, "pay 4111 1111 1111 1111 or 4111111111111111 now"),
      (7L, "iban GB82 WEST 1234 5698 7654 32 or DE89370400440532013000 ok"),
      (8L, "fake DE89370400440532013001 stays put"),
      (9L, "ref x4111111111111111y and 4111111111111111 paid"))
      .toDF("doc_id", "text")
    val got = TextAnalysis.withPiiScrub(planted)
      .select("doc_id", "n_urls", "n_emails", "n_phones", "n_ids",
        "scrubbed_pii")
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4),
          r.getString(5)))).toMap
    val fin = TextAnalysis.withPiiScrub(planted)
      .select("doc_id", "n_ccs", "n_ibans", "scrubbed_pii")
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getString(3)))).toMap
    assert(got(1L)._3 == 2, s"E.164 + separated form: ${got(1L)}")
    assert(got(1L)._5 == "call <PHONE> or <PHONE> today")
    assert(got(2L) == ((0L, 0L, 0L, 2L, "ssn <ID> acct <ID> ok")),
      s"SSN shape + bare 9-digit run: ${got(2L)}")
    assert(got(3L)._1 == 1 && got(3L)._2 == 1 && got(3L)._3 == 1 &&
      got(3L)._4 == 1, s"all four classes on one line: ${got(3L)}")
    assert(got(3L)._5 ==
      "see <URL> mail <EMAIL> tel <PHONE> id <ID>")
    assert(got(4L)._3 == 0 && got(4L)._4 == 0,
      s"dates/times must not scrub: ${got(4L)}")
    assert(got(5L)._4 == 0,
      s"hex ids and embedded digit runs must not scrub: ${got(5L)}")
    // Luhn-valid PANs scrub in both spaced and contiguous form, and the
    // consumed digits never re-count as phones or ID runs
    assert(fin(6L) == ((2L, 0L, "pay <CC> or <CC> now")),
      s"card class: ${fin(6L)}")
    assert(got(6L)._3 == 0 && got(6L)._4 == 0,
      s"card digits must not leak into phone/id classes: ${got(6L)}")
    // mod-97-valid IBANs scrub spaced and compact; letters+digits tokens
    // have no \\b inside, so nothing leaks to the digit-run classes
    assert(fin(7L) == ((0L, 2L, "iban <IBAN> or <IBAN> ok")),
      s"iban class: ${fin(7L)}")
    // checksum-REJECTED candidates are left verbatim (shape is not
    // identity for financial numbers)
    assert(fin(8L) == ((0L, 0L, "fake DE89370400440532013001 stays put")),
      s"invalid check digits must not scrub: ${fin(8L)}")
    // position-anchored substitution (r13 ADVICE): the SAME Luhn-valid
    // digit string embedded in a longer token is NOT a \b-anchored match
    // and must survive verbatim — a literal replace fold would redact it
    // and leave n_ccs undercounting its placeholders
    assert(fin(9L) == ((1L, 0L,
      "ref x4111111111111111y and <CC> paid")),
      s"embedded PAN must not over-redact: ${fin(9L)}")
    assert(got(9L)._4 == 0,
      s"embedded digits must not leak into id class: ${got(9L)}")
  }

  test("ivfRetrain recovers recall lost to frozen centroids under " +
      "distribution drift, and a hash-sampled refit behaves the same") {
    val sf = "/root/testdata/sf0.001"
    val emb = graft.queries.T.embeddings(spark, sf)
    val drift = emb.filter(col("vec_id") < 200)
      .select((col("vec_id") + 1000000L).as("vec_id"),
        expr("transform(embedding, x -> " +
          "cast(cast(x as double) * 0.85d + 0.25d as float))")
          .as("embedding"))
    val queries = drift.select(col("vec_id").as("query_id"),
      col("embedding"))
    val qIds = drift.select("vec_id").as[Long].collect().toSeq
    val exact = Similarity.bruteForceTopK(
        emb.select(col("vec_id"), col("embedding"))
          .unionByName(drift), qIds, 3)
      .select("query_id", "neighbor_id")
    def hitsFrom(dir: String): Long =
      Similarity.ivfServe(spark, dir, queries, 3, nprobe = 1)
        .select("query_id", "neighbor_id")
        .join(exact, Seq("query_id", "neighbor_id")).count()
    val stale = java.nio.file.Files.createTempDirectory("ivf_stale").toString
    Similarity.ivfBuild(emb, stale)
    Similarity.ivfAppend(spark, drift, stale, batchId = 1L)
    val staleHits = hitsFrom(stale)
    val retr = java.nio.file.Files.createTempDirectory("ivf_retr").toString
    Similarity.ivfBuild(emb, retr)
    Similarity.ivfAppend(spark, drift, retr, batchId = 1L)
    Similarity.ivfRetrain(spark, retr)
    val retrHits = hitsFrom(retr)
    assert(retrHits > staleHits,
      s"retrain must improve drifted recall: stale=$staleHits retrained=$retrHits")
    // ledger folded to one generation, last batch preserved
    val g = graft.ops.Models.genStats(spark, retr).head()
    assert(g.getLong(0) == 1L && g.getLong(1) == 1L, s"ledger after retrain: $g")
    // sampled refit: deterministic, still beats stale (means on a 50%
    // hash-sample move the same direction), and every coarse label
    // survives (an empty sampled list keeps its old centroid)
    val samp = java.nio.file.Files.createTempDirectory("ivf_samp").toString
    Similarity.ivfBuild(emb, samp)
    Similarity.ivfAppend(spark, drift, samp, batchId = 1L)
    Similarity.ivfRetrain(spark, samp, sampleFrac = 0.5)
    assert(hitsFrom(samp) > staleHits,
      "sampled retrain must still beat the stale artifact")
    val nLabels = graft.ops.Models.load(spark, samp, "coarse").count()
    assert(nLabels ==
      graft.ops.Models.load(spark, stale, "coarse").count(),
      "sampled retrain must never drop a coarse label")
  }

  test("ivfMaintain: occupancy-TV drift fires retrain on a drifted " +
      "append, stays quiet on an in-distribution append, and " +
      "re-baselines measured drift to exactly zero") {
    import graft.ops.Models
    val sf = "/root/testdata/sf0.001"
    val emb = graft.queries.T.embeddings(spark, sf)
    val drift = emb.filter(col("vec_id") < 200)
      .select((col("vec_id") + 1000000L).as("vec_id"),
        expr("transform(embedding, x -> " +
          "cast(cast(x as double) * 0.85d + 0.25d as float))")
          .as("embedding"))
    val control = emb.filter(col("vec_id") >= 200 && col("vec_id") < 400)
      .select((col("vec_id") + 2000000L).as("vec_id"), col("embedding"))
    val dirD = java.nio.file.Files.createTempDirectory("ivf_pol_d").toString
    Similarity.ivfBuild(emb, dirD)
    assert(Similarity.ivfDrift(spark, dirD) == 0.0,
      "a fresh build measures zero drift by construction")
    Similarity.ivfAppend(spark, drift, dirD, batchId = 1L)
    val tvD = Similarity.ivfDrift(spark, dirD)
    assert(tvD >= 0.05, s"drifted append must move occupancy TV: $tvD")
    assert(Similarity.ivfMaintain(spark, dirD, driftThreshold = 0.05),
      "policy must fire on the drifted append")
    assert(Similarity.ivfDrift(spark, dirD) == 0.0,
      "retrain must re-baseline measured drift to exactly zero")
    val gD = Models.genStats(spark, dirD).head()
    assert(gD.getLong(0) == 1L && gD.getLong(1) == 1L,
      s"retrain folds the ledger, preserving the last batch id: $gD")
    val dirC = java.nio.file.Files.createTempDirectory("ivf_pol_c").toString
    Similarity.ivfBuild(emb, dirC)
    Similarity.ivfAppend(spark, control, dirC, batchId = 1L)
    val tvC = Similarity.ivfDrift(spark, dirC)
    assert(tvC < 0.05,
      s"an in-distribution append must stay under the threshold: $tvC")
    assert(!Similarity.ivfMaintain(spark, dirC, driftThreshold = 0.05),
      "policy must NOT fire on the control append")
    assert(Models.genStats(spark, dirC).head().getLong(0) == 2L,
      "untriggered path keeps build + append generations")
  }

  test("a Models commit survives a crash on either side of its commit " +
      "point: staged residue is invisible and cleared, a committed " +
      "generation serves before its cleanup") {
    import graft.ops.Models
    spark.sparkContext.hadoopConfiguration
      .set("fs.faulty.impl", classOf[FaultyFs].getName)
    val local = java.nio.file.Files.createTempDirectory("commit_crash").toString
    val dir = s"faulty://$local"
    def ids(df: DataFrame) = df.collect().map(_.getLong(0)).sorted.toSeq
    def served = ids(Models.load(spark, dir, "t"))
    def plain = ids(spark.read.parquet(s"$local/t"))
    def gens = Models.genStats(spark, dir).head()
    def underscored = new java.io.File(local).list().toSeq
      .filter(_.startsWith("_")).sorted
    def stagedFiles = underscored.filter(_.startsWith("_stage.")).flatMap(s =>
      Seq("p=0", "p=1").flatMap(p => Option(
        new java.io.File(s"$local/$s/t/$p").list()).toSeq.flatten))
      .filter(_.startsWith("part-"))
    // partitioned, so a read that mixes staged and moved files must still
    // resolve its partition values
    def rows(ids: Long*) = ids.map(i => (i, (i % 2).toInt)).toDF("id", "p")
    Models.save(spark, dir)(_.write("t", rows(1L, 2L), "p"))
    // crash after the data files are written, before the commit: the
    // manifest write fails
    val beforeCommit = scala.util.Try(FaultyFs.failing((op, f) =>
        op == "create" && f.getName.startsWith("_manifest"))(
      Models.append(spark, dir, Some(0L))(_.write("t", rows(3L)))))
    assert(beforeCommit.isFailure && stagedFiles.nonEmpty,
      s"expected staged residue after the crash: $underscored")
    assert(served == Seq(1L, 2L) && plain == Seq(1L, 2L),
      "uncommitted rows must be invisible to load and to a plain scan")
    assert(gens.getLong(0) == 1L && gens.getLong(1) == -1L)
    // the next commit removes the residue
    Models.append(spark, dir, Some(1L))(_.write("t", rows(4L)))
    assert(served == Seq(1L, 2L, 4L) && plain == Seq(1L, 2L, 4L))
    assert(underscored.size == 1 && underscored.head.startsWith("_manifest."),
      s"residue left after a commit: $underscored")
    // crash after the commit, before cleanup: moving a rewrite's staged
    // p=1 file into the table fails, its p=0 file may already be moved
    val afterCommit = scala.util.Try(FaultyFs.failing((op, f) =>
        op == "rename" && f.toUri.getPath.contains("/t/p=1/") &&
          !f.toUri.getPath.contains("/_stage."))(
      Models.rewrite(spark, dir)(_.write("t",
        Models.load(spark, dir, "t").filter(col("id") =!= 2L)))))
    assert(afterCommit.isFailure && stagedFiles.nonEmpty,
      s"expected an unfinished cleanup: $underscored")
    assert(served == Seq(1L, 4L), "the committed generation must serve")
    assert(gens.getLong(0) == 1L && gens.getLong(1) == 1L)
    // the next commit finishes the cleanup first
    Models.append(spark, dir, Some(2L))(_.write("t", rows(5L)))
    assert(served == Seq(1L, 4L, 5L) && plain == Seq(1L, 4L, 5L))
    assert(underscored.size == 1 && underscored.head.startsWith("_manifest."),
      s"residue left after a commit: $underscored")
  }
}
