package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Off-script scale-up evidence: synthesizes a 10x corpus from sf0.1 and
  * runs the headline dedup + ANN-blocking paths at both sizes, printing
  * per-scale candidate volumes and wall times (recorded in SCALING.md).
  * The point is to demonstrate the scaling CONTRACTS hold outside the
  * benchmarked sizes: near-dup candidate volume grows with near-dup
  * density (linear here, by construction), not quadratically with corpus
  * size; and LSH bucket occupancy is held flat by the nbits knob, the
  * same way IVF holds probe-list size flat with k ∝ corpus.
  *
  * Replica construction keeps duplicate DENSITY constant at 10x:
  * - documents: every word in replica k is prefixed `r<k>_`, so each
  *   replica reproduces sf0.1's intra-replica near-dup structure exactly
  *   while sharing zero shingles across replicas (naively concatenating
  *   10 copies would give every doc 9 exact dups — a different corpus).
  * - embeddings: replica k multiplies dimension d by sign(md5(k, d)).
  *   A diagonal +-1 transform preserves all intra-replica inner products
  *   (D^2 = I), so each replica has sf0.1's neighbor structure, while
  *   cross-replica cosines are scrambled.
  *
  * Usage: `sbt "runMain graft.ScaleEvidence [mode]"` (SPARK_GRAFT_CPUS to
  * size the local master; /tmp/graft_scale10 holds the synthesized
  * parquet). Modes:
  *  - (none)   the 10x candidate-volume / bucket-occupancy sweep
  *  - stages   per-stage wall-time split of the ingest chain
  *             (exact admission / banded near-dup verify / clustered
  *             closure) — the q_ns_dedup_ingest_e2e breakdown
  *  - ivf      IVF inverted-list occupancy at 1x/10x and the k-knob
  *             (cluster count ∝ corpus) that restores flat list sizes
  *  - spill    the dedup path under a deliberately small heap
  *             (SPARK_DRIVER_MEM=2g) with per-stage spill bytes from a
  *             SparkListener — memory-bounded completion evidence
  *  - lm       bigram-LM fit/apply walls + model-table sizes at 1x/10x
  *             (fit bounded by distinct vocabulary, serve scan-shaped)
  *  - layout   trainShards balance, heavyHitters candidate bound, and
  *             z-order box-pruning fraction at 1x/10x — the layout-op
  *             scaling contracts measured
  *  - prefix   two-pass bucketed prefix sum vs the naive single-partition
  *             global window on 40M points — the ScaleOps.prefixSum A/B
  *  - skew     dominant-duplicate-class dedup (naive pairs vs
  *             hub-verified star edges) + one interval covering
  *             the whole price domain through the j11 bucket join
  */
object ScaleEvidence {

  private def timed[A](body: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e9)
  }

  def main(args: Array[String]): Unit = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "8")
    // partitions default to cores; the spill experiment overrides them
    // independently (more partitions = smaller per-task working set at the
    // same concurrency — the knob that moves the OOM boundary)
    val parts = sys.env.getOrElse("SPARK_GRAFT_SHUFFLE_PARTITIONS", cpus)
    val builder = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", parts)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
    // spill mode mixes a large evictable cache with sort-heavy joins on a
    // deliberately small heap; the default storageFraction (0.5) protects
    // half the unified region for the cache, starving the sorters' page
    // allocations outright ("got 0" SparkOutOfMemoryError) instead of
    // letting them spill. 0.1 is the mixed-workload posture: caches keep
    // re-reading from disk, sorters get room to spill gracefully. Static
    // conf — must be set before the context exists.
    if (args.headOption.contains("spill"))
      builder.config("spark.memory.storageFraction", "0.1")
    val spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    args.headOption match {
      case Some("stages") => ingestStages(spark, sfDir); spark.stop(); return
      case Some("ivf") => ivfOccupancy(spark, sfDir); spark.stop(); return
      case Some("spill") => spillEvidence(spark, sfDir); spark.stop(); return
      case Some("lm") => lmEvidence(spark, sfDir); spark.stop(); return
      case Some("layout") => layoutEvidence(spark, sfDir); spark.stop(); return
      case Some("dsir") => dsirEvidence(spark, sfDir); spark.stop(); return
      case Some("mediafp") => mediaFpEvidence(spark, sfDir); spark.stop(); return
      case Some("bloom") => bloomEvidence(spark, sfDir); spark.stop(); return
      case Some("bloomjoin") =>
        bloomJoinEvidence(spark, sfDir); spark.stop(); return
      case Some("phrase") => phraseEvidence(spark, sfDir); spark.stop(); return
      case Some("prefix") => prefixEvidence(spark, sfDir); spark.stop(); return
      case Some("skew") => skewEvidence(spark, sfDir); spark.stop(); return
      case _ => ()
    }
    val out = "/tmp/graft_scale10"
    val reps = 10

    // ---- synthesize the 10x corpora (written to parquet so the measured
    // runs pay honest scan costs, same as the 1x baseline)
    val docs = queries.T.documents(spark, sfDir)
    (0 until reps).map { k =>
      docs.select((col("doc_id") + lit(k * 10000000L)).as("doc_id"),
        regexp_replace(col("text"), "(\\S+)", s"r${k}_$$1").as("text"),
        col("lang"), col("source"), col("n_chars"))
    }.reduce(_ unionByName _)
      .write.mode("overwrite").parquet(s"$out/documents.parquet")
    val emb = queries.T.embeddings(spark, sfDir)
    (0 until reps).map { k =>
      emb.select((col("vec_id") + lit(k * 10000000L)).as("vec_id"),
        expr(s"""transform(embedding, (x, d) ->
             |  CASE WHEN substring(md5(concat('sf', '$k', ':', d)), 1, 1) < '8'
             |       THEN x ELSE float(-x) END)""".stripMargin)
          .as("embedding"),
        col("label"))
    }.reduce(_ unionByName _)
      .write.mode("overwrite").parquet(s"$out/embeddings.parquet")

    def docsAt(scale: String): DataFrame =
      if (scale == "1x") docs
      else spark.read.parquet(s"$out/documents.parquet")
    def embAt(scale: String): DataFrame =
      if (scale == "1x") emb
      else spark.read.parquet(s"$out/embeddings.parquet")

    def clear(): Unit = {
      ops.Pins.releaseAll()
      spark.catalog.clearCache()
      spark.sparkContext.getPersistentRDDs.values
        .foreach(_.unpersist(blocking = false))
    }

    for (scale <- Seq("1x", "10x")) {
      val d = docsAt(scale)
      val nDocs = d.count()

      // headline near-dup path: candidate volume must scale with near-dup
      // density (linear by construction), never quadratically with corpus
      clear()
      val (candStats, tCand) = timed {
        val cand = ops.Neutral.minHashCandidates(d)
        cand.agg(count(lit(1)).as("pairs"),
            sum(when(col("jaccard") >= 0.8, 1L).otherwise(0L)).as("verified"))
          .head()
      }
      // full clustered dedup end-to-end (exact -> pairs -> components ->
      // one survivor per component)
      clear()
      val (keptRows, tDedup) = timed {
        ops.Neutral.dedupCorpusClustered(d).count()
      }
      println(s"""SCALE10 {"scale":"$scale","n_docs":$nDocs,""" +
        s""""cand_pairs":${candStats.getLong(0)},"verified_pairs":${candStats.getLong(1)},""" +
        s""""t_candidates_s":${"%.2f".format(tCand)},""" +
        s""""dedup_kept":$keptRows,"t_dedup_clustered_s":${"%.2f".format(tDedup)}}""")

      // exact-substring span detection: the occurrence stream is one row
      // per token position, but marked volume must track true duplication
      // — replicas are vocabulary-disjoint, so 10x corpus => ~10x spans
      // with per-gram group sizes unchanged (no cross-replica collisions)
      clear()
      val (spanStats, tSpan) = timed {
        ops.Dedup.duplicatedSpans(d)
          .agg(count(lit(1)).as("n_spans"),
            coalesce(sum("span_tokens"), lit(0L)).as("dup_tokens"))
          .head()
      }
      println(s"""SCALE10 {"scale":"$scale","n_spans":${spanStats.getLong(0)},""" +
        s""""dup_tokens":${spanStats.getLong(1)},"t_spans_s":${"%.2f".format(tSpan)}}""")

      // ANN blocking: per-bucket occupancy. At 10x with the SAME nbits the
      // buckets hold ~10x the vectors (bucket space is fixed at
      // tables * 2^nbits); raising nbits by ~log2(10) restores flat
      // occupancy — the LSH analogue of IVF's k ∝ corpus rule.
      val e = embAt(scale)
      for (nbits <- if (scale == "1x") Seq(8) else Seq(8, 11)) {
        clear()
        val (occ, tOcc) = timed {
          e.select(col("vec_id"),
              posexplode(ops.Neutral.lshBuckets(col("embedding"), nbits, 4))
                .as(Seq("t", "bucket")))
            .groupBy("t", "bucket").agg(count(lit(1)).as("n"))
            .agg(count(lit(1)).as("n_buckets"), avg("n").as("avg_occ"),
              max("n").as("max_occ"))
            .head()
        }
        println(s"""SCALE10 {"scale":"$scale","nbits":$nbits,""" +
          s""""n_buckets":${occ.getLong(0)},"avg_occ":${"%.1f".format(occ.getDouble(1))},""" +
          s""""max_occ":${occ.getLong(2)},"t_bucket_s":${"%.2f".format(tOcc)}}""")
      }
    }
    spark.stop()
  }

  private def clearAll(spark: SparkSession): Unit = {
    ops.Pins.releaseAll()
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values
      .foreach(_.unpersist(blocking = false))
  }

  private def noop(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  private def medianOf(ts: Seq[Double]): Double = {
    val s = ts.sorted
    if (s.length % 2 == 1) s(s.length / 2)
    else (s(s.length / 2 - 1) + s(s.length / 2)) / 2.0
  }

  /** Per-stage wall-time split of the q_ns_dedup_ingest_e2e chain (same
    * corpus/incoming slices as the driver query): exact digest admission
    * alone, full admission (+ banded candidates + Jaccard verify), full
    * chain (+ within-batch clustered closure). Increments between the
    * three isolate each stage's cost; every measurement is a full
    * clear-state noop-sink run, the bench's timing contract. */
  private def ingestStages(spark: SparkSession, sfDir: String): Unit = {
    import org.apache.spark.sql.functions.sha2
    val reps = 5
    def docs = queries.T.documents(spark, sfDir)
    def corpus = docs.filter(col("doc_id") < 250)
    def incoming = docs.filter(col("doc_id") >= 250)
    def run(name: String)(body: => DataFrame): Double = {
      val ts = (1 to reps).map { _ =>
        clearAll(spark)
        timed(noop(body))._2
      }
      val med = medianOf(ts.tail)
      println(s"""STAGES {"stage":"$name","median_s":${"%.2f".format(med)},""" +
        s""""reps":[${ts.map("%.2f".format(_)).mkString(",")}]}""")
      med
    }
    val tExact = run("exact_admission") {
      incoming.join(
        corpus.select(sha2(col("text"), 256).as("sha")).distinct(),
        sha2(col("text"), 256) === col("sha"), "left_anti")
    }
    val tAdmit = run("full_admission") {
      ops.Neutral.dedupAgainst(corpus, incoming, minJaccard = 0.8)
    }
    val tChain = run("full_chain") {
      ops.Neutral.ingestE2e(corpus, incoming, minJaccard = 0.8)
        .select("doc_id")
    }
    // closure floor: connected components alone over the chain's verified
    // pair set (pairs precomputed and cached outside the timer) — the
    // fixed per-iteration job latency nothing upstream can remove
    val pairs = ops.Pins.cache(
      ops.Neutral.minHashCandidates(incoming)
        .filter(col("jaccard") >= 0.8).select("doc_a", "doc_b"))
    pairs.count()
    val tComp = {
      val ts = (1 to reps).map { _ =>
        // Pins.scoped releases only the checkpoints each rep creates,
        // keeping the pre-scope `pairs` cache alive across reps
        ops.Pins.scoped {
          timed(noop(ops.Dedup.connectedComponents(pairs)))._2
        }
      }
      val med = medianOf(ts.tail)
      println(s"""STAGES {"stage":"components_only","median_s":${"%.2f".format(med)},""" +
        s""""reps":[${ts.map("%.2f".format(_)).mkString(",")}]}""")
      med
    }
    println(s"""STAGES {"split":{"exact_admission_s":${"%.2f".format(tExact)},""" +
      s""""banded_verify_increment_s":${"%.2f".format(tAdmit - tExact)},""" +
      s""""clustered_closure_increment_s":${"%.2f".format(tChain - tAdmit)},""" +
      s""""total_s":${"%.2f".format(tChain)},""" +
      s""""components_only_s":${"%.2f".format(tComp)}}}""")

    // ---- served admission at the daily-crawl shape (corpus >> batch):
    // the r9 persisted-index lifecycle. Refit re-hashes the large corpus
    // per call; served pays a one-time build, then per-batch cost is the
    // batch's own signatures + joins against the loaded tables.
    ops.Pins.releaseAll()
    def bigCorpus = docs.filter(col("doc_id") >= 250)
    def batch = docs.filter(col("doc_id") < 250)
    val tRefitDaily = run("daily_refit_admission") {
      ops.Neutral.dedupAgainst(bigCorpus, batch, minJaccard = 0.8)
    }
    val dir = java.nio.file.Files.createTempDirectory("graft_model_").toString
    val (_, tBuild) = timed(ops.Neutral.dedupIndexBuild(bigCorpus, dir))
    val tServedDaily = run("daily_served_admission") {
      ops.Neutral.dedupAgainstServed(spark, dir, batch, minJaccard = 0.8)
    }
    println(s"""STAGES {"daily":{"refit_admission_s":${"%.2f".format(tRefitDaily)},""" +
      s""""index_build_once_s":${"%.2f".format(tBuild)},""" +
      s""""served_admission_s":${"%.2f".format(tServedDaily)},""" +
      s""""serve_speedup":${"%.2f".format(tRefitDaily / tServedDaily)}}}""")
  }

  /** IVF inverted-list occupancy: lists are label partitions in
    * Similarity.ivfTopK/ivfPqTopK, so occupancy = rows per label. At 10x
    * corpus with a FIXED list count the lists grow 10x (scan cost per
    * probe grows with them); the restoring knob is nlist ∝ corpus — here
    * demonstrated with k-means coarse lists (k=8 at 1x vs k=80 at 10x),
    * which hold per-list occupancy flat the same way a production IVF
    * retrains its coarse quantizer as the corpus grows. */
  private def ivfOccupancy(spark: SparkSession, sfDir: String): Unit = {
    val emb1 = queries.T.embeddings(spark, sfDir)
    // reuse the ScaleEvidence replica transform: ±1 diagonal per replica
    // preserves intra-replica neighbor structure
    val out = "/tmp/graft_scale10/embeddings.parquet"
    if (!new java.io.File(out + "/_SUCCESS").exists()) {
      (0 until 10).map { k =>
        emb1.select((col("vec_id") + lit(k * 10000000L)).as("vec_id"),
          expr(s"""transform(embedding, (x, d) ->
               |  CASE WHEN substring(md5(concat('sf', '$k', ':', d)), 1, 1) < '8'
               |       THEN x ELSE float(-x) END)""".stripMargin)
            .as("embedding"),
          col("label"))
      }.reduce(_ unionByName _)
        .write.mode("overwrite").parquet(out)
    }
    val emb10 = spark.read.parquet(out)
    def occStats(assigned: DataFrame, listCol: String): (Long, Double, Long) = {
      val r = assigned.groupBy(listCol).agg(count(lit(1)).as("n"))
        .agg(count(lit(1)), avg("n"), max("n")).head()
      (r.getLong(0), r.getDouble(1), r.getLong(2))
    }
    for ((scale, e) <- Seq(("1x", emb1), ("10x", emb10))) {
      clearAll(spark)
      val (nl, av, mx) = occStats(e.select(col("label")), "label")
      println(s"""IVF {"scale":"$scale","lists":"label","n_lists":$nl,""" +
        s""""avg_occ":${"%.1f".format(av)},"max_occ":$mx}""")
    }
    for ((scale, e, k) <- Seq(("1x", emb1, 8), ("10x", emb10, 80))) {
      clearAll(spark)
      val a = ops.Cluster.kmeansAssign(e, k = k, iters = 2)
      val (nl, av, mx) = occStats(a, "cluster")
      println(s"""IVF {"scale":"$scale","lists":"kmeans_k$k","n_lists":$nl,""" +
        s""""avg_occ":${"%.1f".format(av)},"max_occ":$mx}""")
    }
  }

  /** Bigram-LM fit/apply at 1x and 10x: the fit aggregates to
    * model tables bounded by DISTINCT vocabulary (here the replica
    * construction makes vocabulary grow 10x by design — the measured
    * claim is that model rows track distinct pairs/words, NOT corpus
    * token count, and that the APPLY pass stays scan-shaped: serve wall
    * ~linear in corpus size with the fit paid once into the artifact,
    * not per scoring run). */
  private def lmEvidence(spark: SparkSession, sfDir: String): Unit = {
    val docs1 = queries.T.documents(spark, sfDir)
    val out = "/tmp/graft_scale10/documents.parquet"
    if (!new java.io.File(out + "/_SUCCESS").exists()) {
      (0 until 10).map { k =>
        docs1.select((col("doc_id") + lit(k * 10000000L)).as("doc_id"),
          regexp_replace(col("text"), "(\\S+)", s"r${k}_$$1").as("text"),
          col("lang"), col("source"), col("n_chars"))
      }.reduce(_ unionByName _)
        .write.mode("overwrite").parquet(out)
    }
    val docs10 = spark.read.parquet(out)
    // untimed warmup on a small slice: the first fit/serve otherwise pays
    // JIT + codegen + parquet-footer first-touch, which at 1x dwarfs the
    // actual work and inverts the 1x/10x comparison
    locally {
      val w = java.nio.file.Files.createTempDirectory("lm_scale_warm")
      ops.TextAnalysis.lmBigramBuild(docs1.limit(200), w.toString)
      ops.TextAnalysis.lmBigramServe(spark, w.toString, docs1.limit(200)).count()
      clearAll(spark)
    }
    for ((scale, d) <- Seq(("1x", docs1), ("10x", docs10))) {
      clearAll(spark)
      val dir = java.nio.file.Files.createTempDirectory(s"lm_scale_$scale")
      val (_, tFit) = timed { ops.TextAnalysis.lmBigramBuild(d, dir.toString) }
      val bigRows = spark.read.parquet(s"$dir/bigrams").count()
      val boRows = spark.read.parquet(s"$dir/backoff").count()
      clearAll(spark)
      val (scored, tServe) = timed {
        ops.TextAnalysis.lmBigramServe(spark, dir.toString, d).count()
      }
      println(s"""LM {"scale":"$scale","n_docs":${d.count()},""" +
        s""""bigram_rows":$bigRows,"backoff_rows":$boRows,""" +
        s""""t_fit_s":${"%.2f".format(tFit)},""" +
        s""""scored_docs":$scored,"t_serve_s":${"%.2f".format(tServe)}}""")
    }
  }

  /** DSIR at 1x/10x: the measurable scale contract is that the MODEL is
    * corpus-size-independent — exactly Dsir.Buckets rows at any scale
    * (unlike the LM's vocabulary-growing tables), so the serving join
    * broadcasts forever — and that fit/serve walls are scan-shaped
    * (added data absorbed by added parallelism, the lmEvidence
    * precedent). */
  private def dsirEvidence(spark: SparkSession, sfDir: String): Unit = {
    val docs1 = queries.T.documents(spark, sfDir)
    val out = "/tmp/graft_scale10/documents.parquet"
    if (!new java.io.File(out + "/_SUCCESS").exists()) {
      (0 until 10).map { k =>
        docs1.select((col("doc_id") + lit(k * 10000000L)).as("doc_id"),
          regexp_replace(col("text"), "(\\S+)", s"r${k}_$$1").as("text"),
          col("lang"), col("source"), col("n_chars"))
      }.reduce(_ unionByName _)
        .write.mode("overwrite").parquet(out)
    }
    val docs10 = spark.read.parquet(out)
    val en = col("lang") === "en"
    locally { // untimed JIT/codegen warmup, lmEvidence precedent
      val w = java.nio.file.Files.createTempDirectory("dsir_scale_warm")
      val s = docs1.limit(200)
      ops.Dsir.dsirBuild(s, s.filter(en), w.toString)
      ops.Dsir.dsirServe(spark, w.toString, s).count()
      clearAll(spark)
    }
    for ((scale, d) <- Seq(("1x", docs1), ("10x", docs10))) {
      clearAll(spark)
      val dir = java.nio.file.Files.createTempDirectory(s"dsir_scale_$scale")
      val (_, tFit) = timed { ops.Dsir.dsirBuild(d, d.filter(en), dir.toString) }
      val modelRows = spark.read.parquet(s"$dir/logratio").count()
      clearAll(spark)
      val (scored, tServe) = timed {
        ops.Dsir.dsirServe(spark, dir.toString, d).count()
      }
      clearAll(spark)
      val (_, tSel) = timed {
        ops.Dsir.dsirResample(
          ops.Dsir.dsirServe(spark, dir.toString, d), 100).count()
      }
      println(s"""DSIR {"scale":"$scale","n_docs":${d.count()},""" +
        s""""model_rows":$modelRows,"t_fit_s":${"%.2f".format(tFit)},""" +
        s""""scored_docs":$scored,"t_serve_s":${"%.2f".format(tServe)},""" +
        s""""t_resample_s":${"%.2f".format(tSel)}}""")
    }
  }

  /** Media fingerprinting at 1x/10x: the decode+hash side of the audio
    * and video near-dup paths is the map-only scan whose wall must
    * absorb added data with added parallelism. (The banded/inverted
    * candidate JOINS are deliberately not measured over the replicated
    * fixture: replication multiplies the 8 planted pattern classes'
    * clique sizes, so pair volume grows quadratically BY FIXTURE
    * CONSTRUCTION — a dup-density artifact, not an operator property;
    * the join-side contract is the bucket-cap trade documented with
    * simhash/minhash.) */
  private def mediaFpEvidence(spark: SparkSession, sfDir: String): Unit = {
    implicit val s: SparkSession = spark
    val docs1 = queries.T.documents(spark, sfDir)
    val docs10 = (0 until 10).map { k =>
      docs1.select((col("doc_id") + lit(k * 10000000L)).as("doc_id"),
        col("text"), col("lang"), col("source"), col("n_chars"))
    }.reduce(_ unionByName _)
    locally { // untimed JIT/codegen warmup
      val w = docs1.limit(100)
      ops.Multimodal.audioFingerprint(
        ops.Multimodal.syntheticTexturedAudioTable(w)).count()
      ops.Multimodal.videoFrameDHash(
        ops.Multimodal.syntheticVideoFrameTable(w)).count()
      clearAll(spark)
    }
    for ((scale, d) <- Seq(("1x", docs1), ("10x", docs10))) {
      clearAll(spark)
      // repartition the synthetic fixture: at 10x the real corpus would
      // arrive as many files; the single-file 1x fixture would serialize
      val dr = if (scale == "1x") d else d.repartition(32)
      val (nAf, tAf) = timed {
        ops.Multimodal.audioFingerprint(
          ops.Multimodal.syntheticTexturedAudioTable(dr)).count()
      }
      clearAll(spark)
      val (nFh, tFh) = timed {
        ops.Multimodal.videoFrameDHash(
          ops.Multimodal.syntheticVideoFrameTable(dr)).count()
      }
      println(s"""MEDIAFP {"scale":"$scale","n_docs":${d.count()},""" +
        s""""audio_fps":$nAf,"t_audio_s":${"%.2f".format(tAf)},""" +
        s""""frame_hashes":$nFh,"t_frames_s":${"%.2f".format(tFh)}}""")
    }
  }

  /** Bloom admission at 1x/10x: the false-positive rate is the measurable
    * price of the position-bounded seen-set, and it must track the
    * (1−e^(−kn/m))^k curve — flat-to-zero when mBits is sized to the
    * corpus (bits-per-element constant, the m ∝ n rule), visibly nonzero
    * when a 10x corpus outgrows a fixed m. Incoming docs are all
    * truly-new (suffixed texts), so every rejection IS a false positive
    * — the rate is measured, not argued. */
  private def bloomEvidence(spark: SparkSession, sfDir: String): Unit = {
    val docs1 = queries.T.documents(spark, sfDir)
    val docs10 = (0 until 10).map { k =>
      docs1.select((col("doc_id") + lit(k * 10000000L)).as("doc_id"),
        regexp_replace(col("text"), "(\\S+)", s"r${k}_$$1").as("text"),
        col("lang"), col("source"), col("n_chars"))
    }.reduce(_ unionByName _)
    val incoming = docs1.select(
      (col("doc_id") + lit(50000000L)).as("doc_id"),
      concat(col("text"), lit(" freshness-token")).as("text"),
      col("lang"), col("source"), col("n_chars"))
    for ((scale, d) <- Seq(("1x", docs1), ("10x", docs10));
         mBits <- Seq(1 << 20, 1 << 24)) {
      clearAll(spark)
      val dir = java.nio.file.Files
        .createTempDirectory(s"bloom_${scale}_$mBits").toString
      val (_, tBuild) = timed {
        ops.Neutral.bloomIndexBuild(d, dir, mBits = mBits)
      }
      val occupied = ops.Models.load(spark, dir, "bloom").count()
      val ((nInc, falseRejects), tServe) = timed {
        // mBits travels in the artifact's manifest — serve reads it there
        val r = ops.Neutral.admitBloomServed(spark, dir, incoming)
          .agg(count(lit(1)), sum(when(!col("admitted"), 1L).otherwise(0L)))
          .head()
        (r.getLong(0), r.getLong(1))
      }
      println(s"""BLOOM {"scale":"$scale","m_bits":$mBits,""" +
        s""""corpus_docs":${d.count()},"occupied":$occupied,""" +
        s""""incoming":$nInc,"false_rejects":$falseRejects,""" +
        s""""fp_rate":${"%.2e".format(falseRejects.toDouble / nInc)},""" +
        s""""t_build_s":${"%.2f".format(tBuild)},"t_serve_s":${"%.2f".format(tServe)}}""")
    }
  }

  /** Bloom join prune A/B: the claim is that the k broadcast semi probes
    * drop most of the fact side's shuffle WRITE (the map-side bytes that
    * cross the wire for the exact join). Broadcast of the dim is
    * disabled — the prune exists precisely for the dim-too-wide-to-
    * broadcast regime — and stage-level shuffleWriteMetrics are summed
    * over each run. */
  private def bloomJoinEvidence(spark: SparkSession, sfDir: String): Unit = {
    val li = queries.T.lineitem(spark, sfDir)
    // non-key dim predicate: a key-derived filter (o_orderkey % 37) would
    // transfer to the fact scan via InferFiltersFromConstraints and the
    // plain join would self-prune — the bloom prune exists for the
    // predicates Catalyst CANNOT propagate
    val sel = queries.T.orders(spark, sfDir)
      .filter(col("o_totalprice") < 20000)
      .select("o_orderkey", "o_orderpriority")
    def measure(label: String)(job: => Long): (Long, Long, Double) = {
      val writes =
        new java.util.concurrent.ConcurrentLinkedQueue[Long]
      val listener = new org.apache.spark.scheduler.SparkListener {
        override def onStageCompleted(
            sc: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit = {
          val m = sc.stageInfo.taskMetrics
          if (m != null) writes.add(m.shuffleWriteMetrics.bytesWritten)
        }
      }
      spark.sparkContext.addSparkListener(listener)
      val (rows, t) = timed(job)
      // listener events post async (the bus drain API is private);
      // stage-completed events for a finished job land well within this
      Thread.sleep(2000)
      spark.sparkContext.removeSparkListener(listener)
      import scala.jdk.CollectionConverters._
      (rows, writes.asScala.sum, t)
    }
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    // AQE re-plans the shuffle join to broadcast at runtime through its
    // OWN threshold — disable that too, the regime being measured is
    // dim-too-wide-to-broadcast
    spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
    // the measured job is the q_scale_bloom_join_prune aggregate — it
    // pulls a value column (l_extendedprice) through the join, so the
    // fact side's shuffle carries real row payloads, not just keys
    def agg(joined: org.apache.spark.sql.DataFrame): Long =
      joined.groupBy("o_orderpriority")
        .agg(count(lit(1)).as("n"), sum(col("l_extendedprice")).as("s"))
        .count()
    try {
      clearAll(spark)
      val (nPlain, bPlain, tPlain) = measure("plain") {
        agg(li.join(sel, col("l_orderkey") === col("o_orderkey")))
      }
      clearAll(spark)
      val (nPruned, bPruned, tPruned) = measure("pruned") {
        agg(ops.ScaleOps.bloomJoinPruned(li, sel, "l_orderkey", "o_orderkey"))
      }
      println(s"""BLOOMJOIN {"fact_rows":${li.count()},""" +
        s""""match_rows_plain":$nPlain,"match_rows_pruned":$nPruned,""" +
        s""""shuffle_write_mb_plain":${"%.1f".format(bPlain / 1048576.0)},""" +
        s""""shuffle_write_mb_pruned":${"%.1f".format(bPruned / 1048576.0)},""" +
        s""""reduction":${"%.2f".format(1 - bPruned.toDouble / bPlain)},""" +
        s""""t_plain_s":${"%.2f".format(tPlain)},""" +
        s""""t_pruned_s":${"%.2f".format(tPruned)}}""")
    } finally {
      spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
      spark.conf.unset("spark.sql.adaptive.autoBroadcastJoinThreshold")
    }
  }

  /** Phrase search at 1x/10x: the serving claim is that the INDEX form's
    * wall tracks the phrase words' postings (pushdown-bounded), while the
    * scan form pays the whole corpus — so the scan/index gap must WIDEN
    * as the corpus grows. Replica prefixes (r0_..r9_) change every word,
    * so the replicated corpus is searched for the original phrase via
    * replica-0's unprefixed twin being absent — instead each replica
    * carries its own prefixed phrase; we search replica 3's, making the
    * target postings a fixed 1/10 slice of the 10x index. */
  private def phraseEvidence(spark: SparkSession, sfDir: String): Unit = {
    val docs1 = queries.T.documents(spark, sfDir)
    val docs10 = (0 until 10).map { k =>
      docs1.select((col("doc_id") + lit(k * 10000000L)).as("doc_id"),
        regexp_replace(col("text"), "(\\S+)", s"r${k}_$$1").as("text"),
        col("lang"), col("source"), col("n_chars"))
    }.reduce(_ unionByName _)
    locally { // untimed warmup
      val w = java.nio.file.Files.createTempDirectory("phr_warm").toString
      ops.Retrieval.phraseIndexBuild(docs1.limit(100), w, "doc_id", "text")
      ops.Retrieval.phraseSearchServed(spark, w, "doc_id",
        Seq("value", "table")).count()
      ops.Retrieval.phraseSearch(docs1.limit(100), "doc_id", "text",
        Seq("value", "table")).count()
      clearAll(spark)
    }
    for ((scale, d, phrase) <- Seq(
        ("1x", docs1, Seq("value", "table")),
        ("10x", docs10, Seq("r3_value", "r3_table")))) {
      clearAll(spark)
      val dir = java.nio.file.Files
        .createTempDirectory(s"phr_$scale").toString
      val (_, tBuild) = timed {
        ops.Retrieval.phraseIndexBuild(d, dir, "doc_id", "text")
      }
      clearAll(spark)
      val (nScan, tScan) = timed {
        ops.Retrieval.phraseSearch(d, "doc_id", "text", phrase).count()
      }
      clearAll(spark)
      val (nIdx, tIdx) = timed {
        ops.Retrieval.phraseSearchServed(spark, dir, "doc_id", phrase).count()
      }
      println(s"""PHRASE {"scale":"$scale","n_docs":${d.count()},""" +
        s""""t_build_s":${"%.2f".format(tBuild)},""" +
        s""""scan_hits":$nScan,"t_scan_s":${"%.2f".format(tScan)},""" +
        s""""idx_hits":$nIdx,"t_index_s":${"%.2f".format(tIdx)}}""")
    }
    phrasePruneEvidence(spark, docs10)
  }

  /** The falsifiable half of the phrase-index layout claim (r9 "What's
    * wrong" #2): build the positional index over the 10x corpus TWICE —
    * the word-range-sorted layout phraseIndexBuild now writes, and an
    * unsorted doc-order control (the r9 layout) — then run the same
    * word-equality scan against both and read the SCAN NODE's metrics.
    * If footer min/max stats actually prune, the sorted layout's scan
    * decodes a small fraction of the table's rows; the unsorted control
    * decodes all of them (every row group spans the whole alphabet).
    * AQE off for the measurement so the executed plan exposes the
    * FileSourceScanExec leaf directly. */
  private def phrasePruneEvidence(spark: SparkSession,
      docs10: DataFrame): Unit = {
    val aqeWas = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val sortedDir = java.nio.file.Files
        .createTempDirectory("phr_prune_sorted").toString
      val unsortedDir = java.nio.file.Files
        .createTempDirectory("phr_prune_unsorted").toString
      ops.Retrieval.phraseIndexBuild(docs10, sortedDir, "doc_id", "text")
      // the r9 control: same rows, doc order, no word sort. The hash
      // repartition on doc_id interleaves the synthetic replicas the way
      // a real crawl interleaves vocabularies — without it the 10x
      // corpus's replica-per-file structure smuggles accidental
      // clustering into the control and flatters it
      ops.Models.save(spark, unsortedDir)(_.write("positions",
        docs10.repartition(10, col("doc_id"))
          .select(col("doc_id"),
            posexplode(filter(split(lower(trim(col("text"))), "\\s+"),
              x => x =!= "")).as(Seq("pos", "word")))))
      // the append→compact lifecycle (r11): three word-sorted GENERATIONS
      // (build + 2 appends over a doc_id 3-way split), measured before and
      // after phraseIndexCompact — compaction must restore the file count
      // and decode fraction to the single-build shape above
      val appendDir = java.nio.file.Files
        .createTempDirectory("phr_prune_appended").toString
      ops.Retrieval.phraseIndexBuild(
        docs10.filter(col("doc_id") % 3 === 0), appendDir, "doc_id", "text")
      ops.Retrieval.phraseIndexAppend(
        docs10.filter(col("doc_id") % 3 === 1), appendDir, "doc_id", "text",
        batchId = 1L)
      ops.Retrieval.phraseIndexAppend(
        docs10.filter(col("doc_id") % 3 === 2), appendDir, "doc_id", "text",
        batchId = 2L)
      val total = ops.Models.load(spark, sortedDir, "positions").count()
      def measure(layout: String, dir: String): Unit =
        for (word <- Seq("r3_value", "r7_table")) {
          clearAll(spark)
          // the count must run on THIS Dataset's own query execution —
          // df.count() spawns a separate execution whose metrics df's
          // (never-executed) plan would not carry
          val agg = ops.Models.load(spark, dir, "positions")
            .filter(col("word") === word)
            .groupBy().count()
          val (hits, tScan) = timed { agg.collect().head.getLong(0) }
          val scan = agg.queryExecution.executedPlan.collect {
            case s: org.apache.spark.sql.execution.FileSourceScanExec => s
          }.head
          println(s"""PHRASE_PRUNE {"layout":"$layout","word":"$word",""" +
            s""""rows_decoded":${scan.metrics("numOutputRows").value},""" +
            s""""total_rows":$total,""" +
            s""""files_read":${scan.metrics("numFiles").value},""" +
            s""""hits":$hits,"t_scan_s":${"%.2f".format(tScan)}}""")
        }
      measure("appended_x3", appendDir)
      ops.Retrieval.phraseIndexCompact(spark, appendDir, "doc_id")
      measure("compacted", appendDir)
      measure("sorted", sortedDir)
      measure("unsorted", unsortedDir)
    } finally spark.conf.set("spark.sql.adaptive.enabled", aqeWas)
  }

  /** Memory-bounded completion: run the clustered dedup path over the 10x
    * corpus under whatever heap the caller set (SPARK_DRIVER_MEM) and
    * report per-stage spill — the evidence that the plan degrades to disk
    * instead of OOMing when partitions stop fitting in memory. */
  /** Layout-op contracts at 1x/10x (r8): the properties that make the
    * three layout operators scale are measurable, not just arguable —
    *  - trainShards: per-shard sorts only, so balance (max/mean shard
    *    size) stays flat as the corpus grows and wall scales with rows;
    *  - heavyHitters: the candidate list is bounded by 1/support at ANY
    *    corpus size (Misra-Gries memory contract) — replicating the
    *    corpus 10x must not grow it;
    *  - zorderFileStats: pruning is a property of the grid RESOLUTION,
    *    not the row count — the 2-D box overlap fraction holds at 10x. */
  private def layoutEvidence(spark: SparkSession, sfDir: String): Unit = {
    val docs1 = queries.T.documents(spark, sfDir).select("doc_id")
    val docs10 = (0 until 10).map { k =>
      docs1.select((col("doc_id") + lit(k * 10000000L)).as("doc_id"))
    }.reduce(_ unionByName _)
    // untimed warmup (JIT + codegen first-touch, lmEvidence precedent)
    ops.Sampling.trainShards(docs1.limit(100), 4).count()
    for ((scale, d) <- Seq(("1x", docs1), ("10x", docs10))) {
      val (bal, w) = timed {
        val sizes = ops.Sampling.trainShards(d, numShards = 64)
          .groupBy("shard").count()
          .agg(max("count").as("mx"), avg("count").as("mean")).head()
        sizes.getLong(0) / sizes.getDouble(1)
      }
      println(s"""SHARDS {"scale":"$scale","n":${d.count()},""" +
        s""""max_over_mean":${"%.3f".format(bal)},"wall_s":${"%.2f".format(w)}}""")
    }
    val ev1 = queries.T.events(spark, sfDir).select("user_id")
    val ev10 = (0 until 10).map(_ => ev1).reduce(_ unionByName _)
    for ((scale, d) <- Seq(("1x", ev1), ("10x", ev10))) {
      // candidates computed ONCE and passed through — the sketch pass is
      // the expensive half, don't pay it twice for the printout
      val cands = ops.ScaleOps.heavyHitterCandidates(d, "user_id", 0.005)
      val (nOut, w) = timed {
        ops.ScaleOps.heavyHitters(d, "user_id", 0.005, Some(cands)).count()
      }
      println(s"""HH {"scale":"$scale","n":${d.count()},"candidates":${cands.size},""" +
        s""""cand_bound":${(1 / 0.005).toInt},"heavy":$nOut,""" +
        s""""wall_s":${"%.2f".format(w)}}""")
    }
    // 10x z-order corpus = 10 replicas of orders with the layout dims
    // JITTERED per replica/row (deterministic hash noise, up to ±1 cell
    // width in each dim) — genuinely new points from the same macro
    // distribution. A plain replica would carry identical (x, y) values
    // and make the 10x overlap equal to 1x BY CONSTRUCTION; jittered
    // points let the 10x run actually falsify the resolution claim.
    val ord1 = queries.T.orders(spark, sfDir)
    val bounds = ord1.agg(
        min("o_totalprice"), max("o_totalprice"),
        min("o_custkey"), max("o_custkey")).head()
      .toSeq.map(v => v.toString.toDouble)
    val (yLo, yHi, xLo, xHi) = (bounds(0), bounds(1), bounds(2), bounds(3))
    val yCell = (yHi - yLo) / 256.0
    val xCell = math.max(1.0, (xHi - xLo) / 256.0)
    val ord10 = (0 until 10).map { k =>
      val h = xxhash64(col("o_orderkey"), lit(k))
      ord1
        .withColumn("o_orderkey", col("o_orderkey") + lit(k * 100000000L))
        .withColumn("o_totalprice", col("o_totalprice")
          + (pmod(h, lit(2000L)).cast("double") / 1000.0 - 1.0) * yCell)
        .withColumn("o_custkey", col("o_custkey")
          + round((pmod(xxhash64(h), lit(2000L)).cast("double") / 1000.0 - 1.0)
              * xCell).cast("long"))
    }.reduce(_ unionByName _)
    for ((scale, d) <- Seq(("1x", ord1), ("10x", ord10))) {
      val ((hit, files), w) = timed {
        ops.ScaleOps.zorderBoxOverlap(
          ops.ScaleOps.zorderFileStats(d, "o_custkey", "o_totalprice",
            bits = 8, fileBits = 6),
          boxFrac = 0.1)
      }
      println(s"""ZORDER {"scale":"$scale","n":${d.count()},"files":$files,""" +
        s""""box_overlap_frac":${"%.3f".format(hit.toDouble / files)},""" +
        s""""wall_s":${"%.2f".format(w)}}""")
    }
  }

  private def spillEvidence(spark: SparkSession, sfDir: String): Unit = {
    // default 100x: at this container's sf0.1 the 10x corpus still fits
    // each task's execution memory even at -Xmx1g, so the spill-vs-OOM
    // demonstration needs another order of magnitude of rows per task
    val scale = sys.env.getOrElse("SPARK_GRAFT_SPILL_SCALE", "100").toInt
    val out = s"/tmp/graft_scale$scale/documents.parquet"
    if (!new java.io.File(out + "/_SUCCESS").exists()) {
      val docs = queries.T.documents(spark, sfDir)
      (0 until scale).map { k =>
        docs.select((col("doc_id") + lit(k * 10000000L)).as("doc_id"),
          regexp_replace(col("text"), "(\\S+)", s"r${k}_$$1").as("text"),
          col("lang"), col("source"), col("n_chars"))
      }.reduce(_ unionByName _)
        .write.mode("overwrite").parquet(out)
    }
    // 100 TB posture for the stress run: no broadcast side (a real corpus
    // digest/signature table wouldn't fit an executor), so every join is
    // a sort-merge whose sorts go through spillable external sorters
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", -1)
    // The first constrained-heap run OOM'd NOT in a join or sort but in
    // the cache's columnar batch builder (ColumnBuilder.ensureFreeSpace):
    // batches default to 10k rows, and the signature table's rows carry
    // three arrays (~KBs each), so one in-flight batch buffer is tens of
    // MB of UNMANAGED allocation per task — invisible to the memory
    // manager, un-spillable, doubling as it grows. Bounding the batch row
    // count is the correct knob for wide-array caches at scale.
    spark.conf.set("spark.sql.inMemoryColumnarStorage.batchSize", 1000)
    val d10 = spark.read.parquet(out)
    val spills =
      new java.util.concurrent.ConcurrentLinkedQueue[(Int, Long, Long, Long)]
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onStageCompleted(
          sc: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit = {
        val m = sc.stageInfo.taskMetrics
        if (m != null)
          spills.add((sc.stageInfo.stageId, m.memoryBytesSpilled,
            m.diskBytesSpilled, m.shuffleWriteMetrics.bytesWritten))
      }
    }
    spark.sparkContext.addSparkListener(listener)
    clearAll(spark)
    val heap = Runtime.getRuntime.maxMemory() / (1024 * 1024)
    val (kept, t) = timed(ops.Neutral.dedupCorpusClustered(d10).count())
    spark.sparkContext.removeSparkListener(listener)
    import scala.jdk.CollectionConverters._
    val rows = spills.asScala.toSeq
    val memSpill = rows.map(_._2).sum
    val diskSpill = rows.map(_._3).sum
    val topStages = rows.filter(r => r._2 > 0 || r._3 > 0)
      .sortBy(-_._3).take(8)
      .map(r => s"""{"stage":${r._1},"mem_spill_mb":${r._2 / 1048576},""" +
        s""""disk_spill_mb":${r._3 / 1048576},"shuffle_write_mb":${r._4 / 1048576}}""")
      .mkString("[", ",", "]")
    println(s"""SPILL {"heap_mb":$heap,"kept":$kept,"t_s":${"%.1f".format(t)},""" +
      s""""mem_spill_mb":${memSpill / 1048576},"disk_spill_mb":${diskSpill / 1048576},""" +
      s""""n_stages_spilled":${rows.count(r => r._2 > 0 || r._3 > 0)},""" +
      s""""spilling_stages":$topStages,"oom":false}""")
  }

  /** Two-pass bucketed prefix sum vs the naive single-partition global
    * window, on a 400×-replicated point set (~40M rows at sf0.1) read
    * honestly from parquet. Same answer by construction (asserted via
    * an order-independent checksum); the naive form funnels every row
    * through ONE sorted partition while the two-pass form windows
    * per-day buckets in parallel and prefix-combines only the bucket
    * totals. Numbers land in SCALING.md. */
  private def prefixEvidence(spark: SparkSession, sfDir: String): Unit = {
    import org.apache.spark.sql.expressions.Window
    val out = "/tmp/graft_prefix_pts"
    queries.T.events(spark, sfDir)
      .filter(col("ts").isNotNull && col("user_id").isNotNull)
      .select(explode(expr("sequence(0, 399)")).as("k"), col("ts"),
        col("event_id"), col("user_id"))
      .select((col("ts") + expr("make_interval(0,0,0,0,0,0,k)")).as("t"),
        (col("event_id") * 400 + col("k")).as("id"),
        when(col("user_id") % 2 === 0, 1L).otherwise(-1L).as("d"))
      .write.mode("overwrite").parquet(out)
    val pts = spark.read.parquet(out)
    val n = pts.count()
    // order-independent consume: sum of per-row running values forces the
    // whole window yet compares across plans without a sort
    def consume(df: DataFrame): Long =
      df.agg(sum(col("c"))).head().getLong(0)
    def naive(): Long = consume(pts.withColumn("c",
      sum(col("d")).over(Window.orderBy(col("t"), col("id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow))))
    def fast(): Long = consume(ops.ScaleOps.prefixSum(pts,
      to_date(col("t")), Seq(col("t"), col("id")), col("d"), "c"))
    val (r0, _) = timed(naive()); val (r1, _) = timed(fast()) // warm JIT
    require(r0 == r1, s"prefix sum mismatch: $r0 vs $r1")
    def med(f: () => Long): Double = {
      val ts = (1 to 3).map(_ => timed(f())._2).sorted
      ts(1)
    }
    val tn = med(naive _); val tf = med(fast _)
    println(s"""PREFIX {"rows":$n,"naive_s":${"%.2f".format(tn)},""" +
      s""""twopass_s":${"%.2f".format(tf)},""" +
      s""""speedup":${"%.2f".format(tn / tf)},"checksum":$r0}""")
  }

  /** `skew` mode (r14 verdict #5): the dominant-duplicate-class and
    * hot-interval hazards, measured. Plants a near-dup class owning HALF
    * of sf0.1's documents (2500 docs at pairwise J≈0.96 — every band
    * routes them to the same LSH bucket) and compares two candidate
    * policies: naive full pair enumeration (the quadratic blow-up) and
    * hub-verified star edges (linear AND closure-identical —
    * [[graft.ops.Neutral.minHashCandidates]] with `starCap`, pinned by
    * ScaleSpec).
    * Then the j11 analog: ONE interval covering the whole price domain
    * joins against every lineitem point through the SAME bucket-explode
    * equi key — the giant range spreads over all its buckets (the
    * explode IS the salting), so cost stays |points| + |buckets|, no hot
    * partition, no cartesian. */
  private def skewEvidence(spark: SparkSession, sfDir: String): Unit = {
    import graft.ops.{Dedup, Neutral, ScaleOps}
    val docs = queries.T.documents(spark, sfDir)
    val base = docs.filter(col("doc_id") === 1)
      .select(col("text").as("base_text"))
    val skewed = docs.crossJoin(broadcast(base))
      .select(col("doc_id"),
        when(col("doc_id") % 2 === 0,
          concat(col("base_text"), lit(" zz"),
            (col("doc_id") % 5).cast("string")))
          .otherwise(col("text")).as("text"))
    skewed.write.mode("overwrite").parquet("/tmp/graft_skew_docs")
    val sk = spark.read.parquet("/tmp/graft_skew_docs")
    val nDocs = sk.count()
    val nClass = nDocs / 2
    def run(label: String)(edges: => DataFrame): (Long, Long, Double) = {
      val (pairsAndComps, t) = timed {
        val e = ops.Pins.cache(edges)
        val n = e.count()
        val nc = Dedup.connectedComponents(e)
          .agg(countDistinct(col("component"))).head().getLong(0)
        ops.Pins.release(e)
        (n, nc)
      }
      println(s"""SKEW_DEDUP {"policy":"$label","docs":$nDocs,""" +
        s""""class_size":$nClass,"edges":${pairsAndComps._1},""" +
        s""""components":${pairsAndComps._2},""" +
        s""""wall_s":${"%.2f".format(t)}}""")
      (pairsAndComps._1, pairsAndComps._2, t)
    }
    val (nNaive, cNaive, _) = run("naive_full_pairs") {
      Neutral.minHashCandidates(sk).filter(col("jaccard") >= 0.8)
        .select("doc_a", "doc_b")
    }
    val (nStar, cStar, _) = run("skew_safe_star") {
      Neutral.minHashCandidates(sk, starCap = Some(16))
        .filter(col("jaccard") >= 0.8).select("doc_a", "doc_b")
    }
    println(s"""SKEW_DEDUP_SUMMARY {"quadratic_pairs":$nNaive,""" +
      s""""star_edges":$nStar,"edge_ratio":${nNaive / math.max(1L, nStar)},""" +
      s""""components_naive":$cNaive,"components_star":$cStar,""" +
      s""""components_equal":${cNaive == cStar}}""")

    // r16: the REAL pipeline entry points under the same dominant-class
    // shape. The suffix here is unique PER DOC (not doc_id % 5) so the
    // exact-dedup stage cannot collapse the class before the near-dup
    // stage — the pipelines must survive the skew themselves. Measures
    // the default (starCap 256, engaged: class 2500 ≫ 256) against
    // exact full enumeration, pinning survivor-set equality and walls.
    val skewedU = docs.crossJoin(broadcast(base))
      .select(col("doc_id"), col("source"), col("n_chars"),
        when(col("doc_id") % 2 === 0,
          concat(col("base_text"), lit(" zz"),
            col("doc_id").cast("string")))
          .otherwise(col("text")).as("text"))
    skewedU.write.mode("overwrite").parquet("/tmp/graft_skew_docs_u")
    val sku = spark.read.parquet("/tmp/graft_skew_docs_u")
    def runPipe(label: String)(survivors: => DataFrame): (Long, Double) = {
      val (n, t) = timed { survivors.count() }
      println(s"""SKEW_PIPELINE {"entry":"$label","docs":$nDocs,""" +
        s""""survivors":$n,"wall_s":${"%.2f".format(t)}}""")
      (n, t)
    }
    val (sClusterStar, tClusterStar) = runPipe("dedupCorpusClustered_star256") {
      Neutral.dedupCorpusClustered(sku)
    }
    val (sClusterFull, tClusterFull) = runPipe("dedupCorpusClustered_full") {
      Neutral.dedupCorpusClustered(sku, starCap = None)
    }
    val (sDropStar, tDropStar) = runPipe("dedupCorpus_star256") {
      Dedup.dedupCorpus(sku)
    }
    val (sDropFull, tDropFull) = runPipe("dedupCorpus_full") {
      Dedup.dedupCorpus(sku, starCap = None)
    }
    // count equality here (cheap at sweep scale); survivor SET equality
    // is pinned by ScaleSpec's star-default test on the same fixture shape
    println(s"""SKEW_PIPELINE_SUMMARY {"clustered_count_equal":${sClusterStar == sClusterFull},""" +
      s""""clustered_speedup":${"%.2f".format(tClusterFull / math.max(0.01, tClusterStar))},""" +
      s""""pairdrop_count_equal":${sDropStar == sDropFull},""" +
      s""""pairdrop_speedup":${"%.2f".format(tDropFull / math.max(0.01, tDropStar))}}""")

    // hot interval: one range covering the entire price domain vs the
    // usual j11 ±1 bands — same bucket-explode equi join, output rows =
    // |points| for the giant range, cost linear, no cartesian in the plan
    val points = queries.T.lineitem(spark, sfDir)
      .filter(col("l_extendedprice").isNotNull)
      .select("l_extendedprice")
    val nPts = points.count()
    val ranges = queries.T.orders(spark, sfDir)
      .filter(col("o_totalprice").isNotNull)
      .select(col("o_orderpriority"),
        (col("o_totalprice") / lit(4.0) - lit(1.0)).as("lo"),
        (col("o_totalprice") / lit(4.0) + lit(1.0)).as("hi"))
      .unionByName(spark.range(1).select(lit("HOT").as("o_orderpriority"),
        lit(0.0).as("lo"), lit(200000.0).as("hi")))
    val (hotRows, tHot) = timed {
      ScaleOps.intervalBucketJoin(points, "l_extendedprice",
          ranges, "lo", "hi", bucketWidth = 100.0)
        .filter(col("o_orderpriority") === "HOT").count()
    }
    val plan = ScaleOps.intervalBucketJoin(points, "l_extendedprice",
        ranges, "lo", "hi", bucketWidth = 100.0)
      .queryExecution.executedPlan.toString
    require(!plan.contains("Cartesian"), "hot interval must not cartesian")
    println(s"""SKEW_INTERVAL {"points":$nPts,"hot_matches":$hotRows,""" +
      s""""all_points_matched":${hotRows == nPts},""" +
      s""""wall_s":${"%.2f".format(tHot)},"cartesian":false}""")
  }
}
