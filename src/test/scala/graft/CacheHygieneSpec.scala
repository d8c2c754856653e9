package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Cache-lifecycle contract: operators may pin intermediates while they
  * run, but (a) iterative loops must release superseded pins as they go,
  * (b) a finished query leaves at most its documented pinned footprint,
  * (c) EVERY pin an operator leaves is registered in the `ops.Pins` ledger
  * so a library consumer can release it without the harness-level
  * clearState sweep, and (d) `Pins.releaseAll()` alone empties the JVM's
  * persistent-RDD registry. Round 5 showed what happens otherwise: leaked
  * pins compounding across a single-JVM bench inflated UNRELATED later
  * queries 2-7x.
  */
class CacheHygieneSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", 4)
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private val sf = "/root/testdata/sf0.001"

  private def clearState(): Unit = {
    ops.Pins.releaseAll()
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values
      .foreach(_.unpersist(blocking = true))
  }

  test("cache-heavy queries: every pin is ledger-tracked; releaseAll alone empties the JVM") {
    val cacheHeavy = Seq("q_graph_pagerank", "q_ns_kmeans", "q_ns_semdedup",
      "q_ns_dedup_corpus", "q_ret_bm25_topk", "q_ns_dedup_components",
      "q_graph_reach_cte", "q_ns_dedup_corpus_clustered",
      "q_ns_dedup_incremental", "q_ns_dedup_minhash", "q_ns_pq_topk",
      "q_ns_bpe_tokenize", "q_ns_dedup_ingest_e2e",
      "q_ns_budget_select", "q_ns_winnow_pairs", "q_ns_dedup_survivor_quality",
      "q_ns_leakage_safe_split", "q_ns_decontaminate_fuzzy",
      "q_ns_lm_bigram", "q_stream_lm_gate", "q_ns_minhash_recall",
      "q_ns_dedup_incremental_served", "q_ns_dedup_ingest_e2e_served",
      "q_ns_prepare_corpus_classified", "q_ns_multimodal_phash_dedup",
      "q_sk_kmv_overlap", "q_ns_dedup_components_incremental",
      "q_ns_dedup_components_compacted", "q_er_field_merge",
      "q_sk_sample_quantiles_served_incremental")
    for (name <- cacheHeavy) {
      clearState()
      queries.Registry.byName(name).fn(spark, sf).count()
      val persisted = spark.sparkContext.getPersistentRDDs.size
      assert(persisted <= 4,
        s"$name left $persisted persisted RDDs — leaked intermediates?")
      // ledger completeness: no operator cache escapes the Pins registry
      assert(ops.Pins.liveCount >= persisted,
        s"$name: ${ops.Pins.liveCount} ledger pins < $persisted persisted " +
          "RDDs — an untracked cache exists")
      // the self-contained release path (NO clearCache sweep)
      ops.Pins.releaseAll()
      assert(spark.sparkContext.getPersistentRDDs.isEmpty,
        s"$name: Pins.releaseAll left persisted RDDs behind")
    }
  }

  test("checkpoints free only their own RDD — live pins and the caller's cache stay backed") {
    import spark.implicits._
    import org.apache.spark.sql.DataFrame
    import org.apache.spark.sql.functions.{col, udf}
    val docs = queries.T.documents(spark, sf)
    val idxDir = java.nio.file.Files.createTempDirectory("hygiene_e2e").toString
    ops.Neutral.dedupIndexBuild(docs.filter($"doc_id" < 250), idxDir)
    // a range, not a local Seq: the optimizer would fold the tally into a
    // local relation at planning time and no recompute could show
    val edges = spark.range(40).select(col("id").as("src"),
      ((col("id") * 7 + 1) % 40).as("dst"))
    val inputs = Seq[(String, DataFrame, DataFrame => Unit)](
      ("ingestE2eServed", docs.filter($"doc_id" >= 250),
        in => ops.Neutral.ingestE2eServed(spark, idxDir, in).count()),
      ("pageRank", edges, in => ops.Graph.pageRank(in, iters = 7).count()))
    val problems = inputs.flatMap { case (name, input, consume) =>
      clearState()
      // the caller's own cache, registered but not yet materialized; the
      // accumulator counts every row its plan computes
      val computed = spark.sparkContext.longAccumulator(name)
      val tally = udf { (v: Long) => computed.add(1); v }
      val key = input.columns.head
      val mine = input.withColumn(key, tally(col(key))).cache()
      consume(mine)
      val before = computed.sum
      mine.count()
      val recomputed = computed.sum - before
      // one registered RDD per live pin: releasing the ledger frees exactly
      // as many as Pins.liveCount counts
      val registered = spark.sparkContext.getPersistentRDDs.size
      val live = ops.Pins.liveCount
      ops.Pins.releaseAll()
      val freed = registered - spark.sparkContext.getPersistentRDDs.size
      mine.unpersist()
      Seq(
        Option.when(freed != live)(
          s"$name: $live live pins, but releasing them freed $freed registered RDDs"),
        Option.when(recomputed != 0)(
          s"$name: the caller's cache recomputed $recomputed rows — its RDD was unpersisted")
      ).flatten
    }
    clearState()
    assert(problems.isEmpty, problems.mkString("; "))
  }

  test("only Pins reads the persistent-RDD registry in operator sources") {
    // ... and only Pins caches, checkpoints or frees: operators go through
    // Pins.cache / checkpoint / advance / release
    import scala.jdk.CollectionConverters._
    val root = java.nio.file.Paths.get("src/main/scala/graft")
    val banned = Seq("getPersistentRDDs", ".cache()", ".persist(",
      ".localCheckpoint(", ".unpersist(", "Pins.track")
    val offenders = Seq("ops", "streaming", "queries").flatMap { d =>
      java.nio.file.Files.walk(root.resolve(d)).iterator().asScala.toSeq
        .filter(p => p.toString.endsWith(".scala") &&
          p.getFileName.toString != "Pins.scala")
        .flatMap { p =>
          val src = java.nio.file.Files.readString(p)
          val hits = banned.filter(src.contains)
          Option.when(hits.nonEmpty)(s"$p: ${hits.mkString(" ")}")
        }
    }
    assert(offenders.isEmpty,
      s"materialisation outside Pins (use Pins.cache/checkpoint/advance/release): " +
        offenders.mkString("; "))
  }

  test("Pins.release frees a Pins.cache pin and lowers liveCount by one") {
    import spark.implicits._
    clearState()
    val df = ops.Pins.cache(queries.T.documents(spark, sf).select($"doc_id"))
    df.count()
    val live = ops.Pins.liveCount
    val rdds = spark.sparkContext.getPersistentRDDs.size
    ops.Pins.release(df)
    assert(df.storageLevel == org.apache.spark.storage.StorageLevel.NONE,
      "released pin is still cached")
    assert(spark.sparkContext.getPersistentRDDs.size == rdds - 1,
      "release did not free the pin's RDD")
    assert(ops.Pins.liveCount == live - 1,
      s"liveCount ${ops.Pins.liveCount}, expected ${live - 1}")
    clearState()
  }

  test("per-op pinned footprint is exactly the documented contract") {
    import spark.implicits._
    val edges = (0L until 40L).map(i => (i, (i * 7 + 1) % 40)).toDF("src", "dst")
    val emb = queries.T.embeddings(spark, sf)
    val docs = queries.T.documents(spark, sf)
    def footprint(body: => Unit): Int = {
      clearState()
      body
      val n = spark.sparkContext.getPersistentRDDs.size
      clearState()
      n
    }
    // pageRank: ONE pin — the returned result table
    assert(footprint(ops.Graph.pageRank(edges, iters = 7).count()) == 1)
    // kmeans: ONE pin — the final centroid table the lazy assignment reads
    assert(footprint(ops.Cluster.kmeansAssign(emb, k = 4, iters = 4).count()) == 1)
    // bm25: ONE pin — the postings (tf) table
    assert(footprint(
      ops.Retrieval.bm25(docs, "doc_id", "text", Seq("the", "a")).count()) == 1)
    // md5 minhash candidates: ONE pin — the signature table
    assert(footprint(ops.Neutral.minHashCandidates(docs).count()) == 1)
    // pair-level corpus dedup: TWO pins — exact-kept docs + xxhash shingles
    assert(footprint(ops.Dedup.dedupCorpus(docs).count()) == 2)
    // incremental admission: TWO pins — incoming + corpus signature tables
    assert(footprint(ops.Neutral.dedupAgainst(
      docs.filter($"doc_id" < 250), docs.filter($"doc_id" >= 250)).count()) == 2)
    // SERVED admission: ONE pin — only the incoming signature table (the
    // corpus side reads the persisted index, nothing corpus-shaped pins)
    val idxDir = java.nio.file.Files.createTempDirectory("hygiene_idx").toString
    ops.Neutral.dedupIndexBuild(docs.filter($"doc_id" < 250), idxDir)
    assert(footprint(ops.Neutral.dedupAgainstServed(spark, idxDir,
      docs.filter($"doc_id" >= 250)).count()) == 1)
    // budget selection: ONE pin — the narrow (id, score, tokens, bucket) table
    assert(footprint(ops.Sampling.selectWithinTokenBudget(
      ops.TextAnalysis.withTokenCounts(ops.TextAnalysis.withQuality(docs)),
      budgetTokens = 5000L).count()) == 1)
    // winnow pairs: ONE pin — the fingerprint table (postings + sizes)
    assert(footprint(
      ops.TextAnalysis.winnowOverlapPairs(docs, minContainment = 0.3).count()) == 1)
    // fuzzy decontamination: TWO pins — corpus + benchmark signature
    // tables. Aggregate the computed column: a bare count() would let the
    // optimizer eliminate the unique-key left join and never run the chain
    assert(footprint(ops.Neutral.fuzzyDecontaminate(
      docs, docs.filter($"doc_id" < 20))
      .agg(org.apache.spark.sql.functions.sum($"n_fuzzy_matches"))
      .head()) == 2)
  }

  test("looped calls with releaseAll keep a flat pin count") {
    import spark.implicits._
    clearState()
    val edges = (0L until 40L).map(i => (i, (i * 7 + 1) % 40)).toDF("src", "dst")
    val docs = queries.T.documents(spark, sf).filter($"doc_id" < 100)
    val counts = (1 to 10).map { _ =>
      ops.Graph.pageRank(edges, iters = 3).count()
      // clustered dedup exercises caches AND the components localCheckpoint
      // path (releasable only through the ledger's checkpoint pins)
      ops.Neutral.dedupCorpusClustered(docs).count()
      val n = spark.sparkContext.getPersistentRDDs.size
      ops.Pins.releaseAll()
      n
    }
    assert(counts.distinct.size == 1,
      s"pin count drifted across identical calls: $counts")
    assert(spark.sparkContext.getPersistentRDDs.isEmpty,
      "registry not empty after the final releaseAll")
  }

  test("Pins.scoped releases only the calling thread's pins — concurrent operators keep theirs") {
    import spark.implicits._
    clearState()
    val docs = queries.T.documents(spark, sf).filter($"doc_id" < 100)
    // an "other operator" pin created on THIS thread before the scope opens
    val outer = ops.Pins.cache(docs.select($"doc_id"))
    outer.count()
    // an "other operator" pin created on a DIFFERENT thread while the scope
    // is conceptually open — must survive the scoped release
    @volatile var otherDf: org.apache.spark.sql.DataFrame = null
    val t = new Thread(() => {
      otherDf = ops.Pins.cache(docs.select($"text"))
      otherDf.count()
    })
    ops.Pins.scoped {
      t.start(); t.join()
      // pins created by the scope's own thread: the minhash signature table
      ops.Neutral.minHashCandidates(docs).count()
      assert(ops.Pins.liveCount >= 3, "expected scope + outer + other-thread pins live")
    }
    // scope released ONLY its own thread's in-scope pin(s)
    assert(outer.storageLevel != org.apache.spark.storage.StorageLevel.NONE,
      "scoped release clobbered a pre-existing pin on the same thread")
    assert(otherDf.storageLevel != org.apache.spark.storage.StorageLevel.NONE,
      "scoped release clobbered a concurrent thread's pin")
    assert(ops.Pins.liveCount == 2,
      s"expected exactly the 2 out-of-scope pins, got ${ops.Pins.liveCount}")
    ops.Pins.releaseAll()
    assert(spark.sparkContext.getPersistentRDDs.isEmpty)
    clearState()
  }

  test("pageRank releases every intermediate — only the result table survives") {
    import spark.implicits._
    clearState()
    // iters > pinEvery exercises the mid-loop pin-and-release path too
    val edges = (0L until 40L).map(i => (i, (i * 7 + 1) % 40))
      .toDF("src", "dst")
    ops.Graph.pageRank(edges, iters = 7).count()
    val persisted = spark.sparkContext.getPersistentRDDs.size
    assert(persisted <= 1,
      s"pageRank left $persisted persisted RDDs; expected only its result")
    clearState()
  }

  test("kmeans releases superseded centroid pins — at most the final pin survives") {
    clearState()
    val emb = queries.T.embeddings(spark, sf)
    ops.Cluster.kmeansAssign(emb, k = 4, iters = 4).count()
    val persisted = spark.sparkContext.getPersistentRDDs.size
    assert(persisted <= 1,
      s"kmeans left $persisted persisted RDDs; expected only the last centroid pin")
    clearState()
  }
}
