package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

import graft.expr.VecExprs

/** Approximate-nearest-neighbor search over an embedding column
  * (Array[Float]).
  *
  * Scale design: brute-force is the correctness baseline (query-set ×
  * candidate-set broadcast join — fine when the query set is small); the
  * scale path here is IVF (route each query to its nearest centroid,
  * search only that partition of the corpus), cutting the scanned
  * fraction to ~1/nlist with the same top-k code path for reranking. LSH
  * search and LSH-blocked near-dup detection live in [[Neutral]]
  * (md5-seeded sign buckets, `lshTopK` / `cosineNearDupCounts`).
  *
  * Outputs are rank-only (query_id, rank, neighbor_id): scores are doubles
  * whose last-ulp depends on the engine, ranks don't (random-vector cosine
  * gaps are astronomically larger than fp error), so results stay
  * hash-comparable against a SQL oracle.
  *
  * Per-pair scoring runs in the compiled CosineSim kernel
  * (graft.expr.VecExprs) — the interpreted `aggregate(zip_with(...))`
  * lambda form costs ~25µs per 64-dim cosine, the kernel sub-µs, and both
  * accumulate left-to-right in double so results are bit-identical.
  */
object Similarity {

  /** Elementwise dot product in double precision — array lambdas, codegen'd,
    * no UDF (functions.zip_with + aggregate, SURVEY north-star). Kept as the
    * composable reference form; hot paths use the CosineSim kernel. */
  def dot(a: String, b: String): Column =
    expr(s"aggregate(zip_with($a, $b, (x, y) -> cast(x as double) * cast(y as double)), " +
      "cast(0.0 as double), (acc, v) -> acc + v)")

  def norm(a: String): Column = sqrt(dot(a, a))

  def cosine(a: String, b: String): Column = VecExprs.cosineSim(col(a), col(b))

  /** Brute-force cosine top-k for a small query set: broadcast the queries
    * against the corpus, rank per query. */
  def bruteForceTopK(emb: DataFrame, queryIds: Seq[Long], k: Int): DataFrame = {
    val queries = emb.filter(col("vec_id").isin(queryIds: _*))
      .select(col("vec_id").as("query_id"), col("embedding").as("q_emb"))
    val w = Window.partitionBy("query_id")
      .orderBy(col("cos").desc, col("vec_id").asc)
    emb.join(broadcast(queries), col("vec_id") =!= col("query_id"))
      .withColumn("cos", cosine("q_emb", "embedding"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("vec_id").as("neighbor_id"))
  }

  /** Per-label centroids (exact elementwise mean via posexplode + group —
    * one shuffle of (label, pos) partial sums, never a driver collect). */
  def centroids(emb: DataFrame): DataFrame =
    emb.select(col("label"), posexplode(col("embedding")).as(Seq("pos", "v")))
      .groupBy("label", "pos")
      .agg(avg(col("v").cast("double")).as("c"))
      .groupBy("label")
      .agg(array_sort(collect_list(struct(col("pos"), col("c")))).as("pc"))
      .select(col("label"), expr("transform(pc, x -> x.c)").as("centroid"))

  /** Oracle-deterministic centroid view, one row per (label, dimension):
    * the cross-row element sum accumulates in DECIMAL(18,6) (exact,
    * order-independent at any partition count — see Retrieval's
    * determinism contract), then one double division by the count. The
    * internal `centroids` keeps plain double avg (rank-only consumers). */
  def labelCentroidsFlat(emb: DataFrame): DataFrame =
    emb.select(col("label"), posexplode(col("embedding")).as(Seq("pos", "v")))
      .groupBy("label", "pos")
      .agg(
        sum(col("v").cast("double")
          .cast(org.apache.spark.sql.types.DecimalType(18, 6)))
          .cast("double").as("s"),
        count(lit(1)).as("n"))
      .select(col("label"), col("pos"), (col("s") / col("n")).as("mean_v"))

  /** IVF-style search: route each query to its `nprobe` nearest centroids,
    * then brute-force only within those labels' inverted lists. nprobe is
    * the recall/scan-fraction dial: 1 scans ~1/nlist of the corpus,
    * nlist recovers exact brute force. */
  def ivfTopK(emb: DataFrame, queryIds: Seq[Long], k: Int,
      nprobe: Int = 1): DataFrame = {
    val cents = centroids(emb)
    val queries = emb.filter(col("vec_id").isin(queryIds: _*))
      .select(col("vec_id").as("query_id"), col("embedding").as("q_emb"))
    val wProbe = Window.partitionBy("query_id")
      .orderBy(col("ccos").desc, col("label").asc)
    // primary_label (the rank-1 route, reported for every output row) rides
    // along inside the tiny routed table — one extra window over
    // queries×nprobe rows, so the centroid subtree is planned exactly once
    // and the big result needs no second window exchange or join
    val routed = queries.crossJoin(broadcast(cents))
      .withColumn("ccos", cosine("q_emb", "centroid"))
      .withColumn("rn", row_number().over(wProbe))
      .filter(col("rn") <= nprobe)
      .withColumn("primary_label",
        first(col("label")).over(Window.partitionBy("query_id").orderBy(col("rn"))))
      .select(col("query_id"), col("q_emb"), col("label").as("probe_label"),
        col("primary_label"))
    val wRank = Window.partitionBy("query_id")
      .orderBy(col("cos").desc, col("vec_id").asc)
    emb.join(broadcast(routed),
        col("label") === col("probe_label") && col("vec_id") =!= col("query_id"))
      .withColumn("cos", cosine("q_emb", "embedding"))
      .withColumn("rank", row_number().over(wRank))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("primary_label").as("probe_label"),
        col("rank"), col("vec_id").as("neighbor_id"))
  }

  /** Corpus-wide k-NN GRAPH via IVF routing — the batch primitive under
    * SemDeDup-style clustering, graph-based near-dup sweeps, kNN-LM
    * datastore prep, and label propagation: EVERY vector gets its k
    * nearest neighbors from its `nprobe` nearest label lists. Two shapes
    * differ from [[ivfTopK]] (bounded query set) because the query set
    * here IS the corpus:
    *  - routing cannot broadcast the routed table; it stays corpus-sized
    *    (corpus × nprobe rows). The per-vector top-nprobe over the
    *    corpus×nlist centroid scores rides the row_number + rank-filter
    *    pattern Spark plans as a map-side WindowGroupLimit, so only
    *    corpus×nprobe rows reach the shuffle;
    *  - the probe is a SHUFFLED equi join on the list label — both sides
    *    corpus-sized, never a broadcast, never all-pairs. Candidate
    *    volume is nprobe · Σ_lists |list|² / corpus per vector on
    *    average — bounded by the nlist ∝ corpus sizing rule, the same
    *    within-cluster-pairs contract SemDeDup documents; a skewed hot
    *    list is AQE skew-split on the join key.
    * Returns (vec_id, rank, neighbor_id), rank-only (the ANN convention:
    * ranks are stable under double cosine noise, raw cosines are not).
    * Self-pairs excluded; each (vector, neighbor) pair meets at most
    * once (a neighbor lives in exactly one list). */
  def knnGraph(emb0: DataFrame, k: Int, nprobe: Int = 1): DataFrame = {
    // fanned: the query side IS the corpus, so the routing crossJoin's
    // cosines and the probe join's map sides parallelize with it
    val emb = ScaleOps.fanOutCompute(emb0, "vec_id")
    val cents = centroids(emb0)
    val wProbe = Window.partitionBy("query_id")
      .orderBy(col("ccos").desc, col("probe_label").asc)
    val routed = emb
      .select(col("vec_id").as("query_id"), col("embedding").as("q_emb"))
      .crossJoin(broadcast(cents.select(col("label").as("probe_label"),
        col("centroid"))))
      .withColumn("ccos", cosine("q_emb", "centroid"))
      .withColumn("rn", row_number().over(wProbe))
      .filter(col("rn") <= nprobe)
      .select(col("query_id"), col("q_emb"), col("probe_label"))
    val wRank = Window.partitionBy("query_id")
      .orderBy(col("cos").desc, col("neighbor_id").asc)
    emb.select(col("vec_id").as("neighbor_id"), col("embedding"),
        col("label"))
      .join(routed, col("label") === col("probe_label") &&
        col("neighbor_id") =!= col("query_id"))
      .withColumn("cos", cosine("q_emb", "embedding"))
      .withColumn("rank", row_number().over(wRank))
      .filter(col("rank") <= k)
      .select(col("query_id").as("vec_id"), col("rank"), col("neighbor_id"))
  }

  /** Persist the IVF artifact under `dir`:
    *  - `coarse`: (label, centroid) — nlist×dim, broadcastable;
    *  - `lists`:  (vec_id, embedding) PARTITIONED BY label — the
    *    inverted lists as Hive-style directories, so a probe's label
    *    join prunes to the probed lists' files (dynamic partition
    *    pruning) instead of scanning the corpus-sized table.
    * The base corpus's lists are its given label partitions (the same
    * routing [[ivfTopK]] uses); [[ivfAppend]] grows them with
    * nearest-centroid assignments. */
  def ivfBuild(emb: DataFrame, dir: String): Unit =
    Models.save(emb.sparkSession, dir)(c => writeLists(
      c.write("coarse", centroids(emb)),
      emb.select(col("vec_id"), col("embedding"), col("label"))))

  /** Stage the lists table partitioned by label, then the FIT-TIME
    * list-occupancy histogram (label, n_fit) counted from the staged
    * lists — the drift baseline [[ivfDriftStats]] compares against.
    * Written at [[ivfBuild]] and by [[ivfRetrain]] (post-retrain the
    * current occupancy IS the fit occupancy, so measured drift resets to
    * exactly 0). `label` is the partition column, so the count reads zero
    * data columns — row counts per file from parquet footers, cheap at
    * any corpus size. */
  private def writeLists(c: Models.Commit, lists: DataFrame): Unit =
    c.write("lists", lists, "label").write("fit_occ",
      c.read("lists").groupBy("label").agg(count(lit(1)).as("n_fit")))

  /** Per-list drift evidence: (label, n_fit, n_cur) — fit-time vs
    * current occupancy, zeros for lists that appeared or emptied. The
    * counts are exact longs, so every consumer (the [[ivfDrift]] scalar,
    * the driver-gate query, the card) derives shares identically. */
  def ivfDriftStats(spark: org.apache.spark.sql.SparkSession,
      dir: String): DataFrame = {
    val cur = Models.load(spark, dir, "lists").groupBy("label")
      .agg(count(lit(1)).as("n_cur"))
    Models.load(spark, dir, "fit_occ")
      .join(cur, Seq("label"), "full_outer")
      .select(col("label"),
        coalesce(col("n_fit"), lit(0L)).as("n_fit"),
        coalesce(col("n_cur"), lit(0L)).as("n_cur"))
  }

  /** The drift SCALAR the retrain policy gates on: total-variation
    * distance between the fit-time and current list-occupancy
    * distributions, TV = ½ Σ_l |cur_l/N_cur − fit_l/N_fit| ∈ [0, 1].
    * Why occupancy TV: under sustained distribution drift the frozen
    * centroids funnel appended vectors into the few lists nearest the
    * drifted mass, so the occupancy histogram shifts away from its
    * fit-time shape in exact proportion to the drifted mass fraction —
    * while drift-free appends (new data from the fit distribution)
    * scatter like the corpus and leave TV near 0. Computed EXACTLY:
    * TV = Σ|cur_l·N_fit − fit_l·N_cur| / (2·N_cur·N_fit) — all-integer
    * numerator (BigInt fold over the nlist-row stats collect, bounded by
    * the model size like every centroid load). The REPORT scalar below
    * takes one final double division; the POLICY decision never does —
    * [[ivfDriftFired]] compares the rational TV against a rational
    * threshold in pure integers, so the fire/hold flag is bit-identical
    * to the oracle's integer inequality even when TV lands exactly on
    * the boundary (the r13 ADVICE finding: two engines double-rounding
    * the same rational could disagree at the threshold). */
  private def driftParts(spark: org.apache.spark.sql.SparkSession,
      dir: String): (BigInt, BigInt, BigInt) = {
    val rows = ivfDriftStats(spark, dir)
      .select("n_fit", "n_cur").collect() // nlist rows: model-bounded
    val nFit = BigInt(rows.map(_.getLong(0)).sum)
    val nCur = BigInt(rows.map(_.getLong(1)).sum)
    val num = rows.map { r =>
      (BigInt(r.getLong(1)) * nFit - BigInt(r.getLong(0)) * nCur).abs
    }.sum
    (num, nFit, nCur)
  }

  /** Human-readable drift scalar (dashboards, SCALING.md tables). The
    * policy does NOT gate on this double — see [[ivfDriftFired]]. */
  def ivfDrift(spark: org.apache.spark.sql.SparkSession,
      dir: String): Double = {
    val (num, nFit, nCur) = driftParts(spark, dir)
    if (nFit == 0 || nCur == 0) return if (nFit == nCur) 0.0 else 1.0
    (BigDecimal(num) / BigDecimal(2 * nCur * nFit)).toDouble
  }

  /** The exact-integer policy decision: fired ⟺ TV ≥ θ where θ is the
    * rational thetaNum/thetaDen, evaluated as
    * num·thetaDen ≥ thetaNum·2·N_cur·N_fit — no floating point anywhere,
    * so the decision an oracle recomputes from the same integer counts
    * (e.g. DuckDB's `num * 20 >= 2 * N_cur * N_fit` for θ = 1/20) agrees
    * on EVERY input, including TV exactly at the boundary. Degenerate
    * empty sides keep the TV∈{0,1} convention. */
  def ivfDriftFired(spark: org.apache.spark.sql.SparkSession, dir: String,
      thetaNum: Long, thetaDen: Long): Boolean = {
    require(thetaDen > 0, "threshold denominator must be positive")
    val (num, nFit, nCur) = driftParts(spark, dir)
    if (nFit == 0 || nCur == 0) {
      val tvIsZero = nFit == nCur
      if (tvIsZero) thetaNum <= 0 else thetaDen >= thetaNum
    } else num * thetaDen >= BigInt(thetaNum) * 2 * nCur * nFit
  }

  /** The POLICY the maintenance loop runs after every append (r12
    * "What's missing" #3 — retrain had no trigger): measure occupancy
    * drift, retrain when it crosses `driftThreshold`, report whether it
    * fired. Retrain subsumes compaction (the reassignment rewrite is one
    * file set per list), so a loop that retrains should skip its
    * compaction check for the batch. The policy read is one
    * footer-counts scan + an nlist-row fold; the retrain it may trigger
    * is the ivfCompact cost class (one corpus scan against broadcast
    * centroids + a partitioned rewrite).
    *
    * `driftThreshold` is interpreted as a DECIMAL with ≤6 places (0.05 →
    * the exact rational 1/20), so the comparison runs through
    * [[ivfDriftFired]]'s all-integer inequality rather than a double
    * compare — the decision is identical to the oracle's integer form at
    * every input, threshold boundary included. */
  def ivfMaintain(spark: org.apache.spark.sql.SparkSession, dir: String,
      driftThreshold: Double, sampleFrac: Double = 1.0): Boolean = {
    val den = 1000000L
    val num = math.round(driftThreshold * den)
    val g = BigInt(num).gcd(BigInt(den)).toLong.max(1L)
    val fired = ivfDriftFired(spark, dir, num / g, den / g)
    if (fired) ivfRetrain(spark, dir, sampleFrac)
    fired
  }

  /** Append a batch of NEW vectors to the persisted inverted lists —
    * the ANN index's daily-ingest path (r9 "What's missing" #2): each
    * new vector is assigned to its nearest persisted coarse centroid
    * (one broadcast crossJoin + partial-agg argmax over the BATCH only;
    * the existing lists and the fit corpus are never re-read, and the
    * centroids never move — a fitted model is not appended, its
    * DERIVED corpus table is) and its (vec_id, embedding) row lands in
    * the matching list partition. Assignment is deterministic (cosine
    * argmax, label tie-break), so serve-after-append equals a rebuild
    * whose lists were defined the same way — the oracle contract of
    * q_ns_sim_ivf_served_incremental. */
  /** Deterministic frozen-centroid assignment (cosine argmax, label
    * tie-break) — the SINGLE definition of where an ingested vector
    * lands: [[ivfAppend]] persists its output, and the drift-policy
    * operating-point analyses recompute occupancy from it declaratively
    * (no artifact) with bit-identical semantics. One broadcast crossJoin
    * over the BATCH only + partial-aggregated max-struct argmax (the
    * kmeans-assign shape) — never a window over batch×nlist rows. */
  def assignFrozen(newVecs: DataFrame, coarse: DataFrame): DataFrame =
    newVecs
      .select(col("vec_id"), col("embedding"))
      .crossJoin(broadcast(coarse))
      .select(col("vec_id"), col("embedding"), col("label"),
        cosine("embedding", "centroid").as("ccos"))
      .groupBy("vec_id")
      .agg(max(struct(col("ccos"), (-col("label")).as("negl"),
        col("embedding").as("e"))).as("m"))
      .select(col("vec_id"), col("m.e").as("embedding"),
        (-col("m.negl")).cast("int").as("label"))

  def ivfAppend(spark: org.apache.spark.sql.SparkSession,
      newVecs: DataFrame, dir: String, batchId: Long): Unit = {
    val assigned = assignFrozen(newVecs, Models.load(spark, dir, "coarse"))
    Models.append(spark, dir, Some(batchId))(_.write("lists", assigned))
  }

  /** Compact the inverted lists: N appended file sets per label
    * directory fold to one (repartition by label → each partition
    * directory rewrites as a single file set, one [[Models.rewrite]]
    * commit — the lists serve until it lands). Content is
    * untouched — serving and the q_ns_sim_ivf_served_incremental oracle
    * are layout-invariant — and the probed-lists partition pruning keeps
    * working against far fewer files. The coarse centroids are a fitted
    * model: never appended, nothing to compact. */
  def ivfCompact(spark: org.apache.spark.sql.SparkSession,
      dir: String): Unit = {
    Models.rewrite(spark, dir)(_.update("lists")(_.repartition(col("label"))))
  }

  /** Retrain the coarse quantizer on the CUMULATIVE lists — the missing
    * half of the append lifecycle (r11 "What's missing" #2): [[ivfAppend]]
    * assigns new vectors to FROZEN centroids, so under sustained
    * distribution drift the frozen partition of space stops matching the
    * corpus and recall degrades silently (measured: q_ns_sim_ivf_retrain
    * _recall). Retrain is one deterministic Lloyd step seeded by the
    * CURRENT assignments:
    *  1. refit — new centroid = per-list elementwise mean over the
    *     cumulative lists (appended vectors now pull their centroid,
    *     which the frozen build never let them do). `sampleFrac` < 1
    *     fits the means on a deterministic hash-sample of each list
    *     (pmod(xxhash64(vec_id))) — the 10^9-vector scale path: centroid
    *     means converge on a 1% sample, and the fit pass then reads a
    *     fixed fraction of the corpus. A label whose sampled list is
    *     empty keeps its old centroid (never a dropped partition).
    *  2. reassign — every vector moves to its nearest NEW centroid (the
    *     ivfAppend broadcast-argmax shape over the whole corpus: one
    *     scan + one partitioned rewrite, the same cost class as
    *     [[ivfCompact]]).
    * Coarse, lists and the fit-occupancy baseline land in ONE
    * [[Models.rewrite]] commit: the reassignment reads the coarse table
    * as staged (never a recompute that could diverge), and a crash
    * anywhere before the commit leaves the old centroids, lists and
    * baseline serving together. The history folds to one generation
    * ([[ivfCompact]]'s contract: retrain subsumes compaction — the
    * rewrite is one file set per list). Deterministic end to end
    * (mean + cosine argmax + label tie-break), so the served result has
    * a plain SQL oracle twin. */
  def ivfRetrain(spark: org.apache.spark.sql.SparkSession, dir: String,
      sampleFrac: Double = 1.0): Unit = {
    require(sampleFrac > 0 && sampleFrac <= 1.0,
      "sampleFrac must be in (0, 1]")
    val lists = Models.load(spark, dir, "lists")
    val fit =
      if (sampleFrac >= 1.0) lists
      else lists.filter(pmod(xxhash64(col("vec_id")), lit(1000000)) <
        (sampleFrac * 1000000).toLong)
    val oldCoarse = Models.load(spark, dir, "coarse")
      .select(col("label"), col("centroid").as("__old_c"))
    val cents = oldCoarse
      .join(centroids(fit).withColumnRenamed("centroid", "__new_c"),
        Seq("label"), "left")
      .select(col("label"),
        coalesce(col("__new_c"), col("__old_c")).as("centroid"))
    Models.rewrite(spark, dir)(c =>
      writeLists(c.write("coarse", cents), assignFrozen(lists, c.read("coarse"))))
  }

  /** IVF top-k SERVED from the persisted artifact: route each query to
    * its `nprobe` nearest loaded centroids (broadcast), then rerank
    * ONLY the probed lists — the label equi join against the
    * partitioned lists table dynamically prunes to nprobe directories
    * per query batch, so serving cost tracks probed-list volume, not
    * corpus size, and NO assignment of corpus vectors happens at query
    * time (the r9 gap: the refitting form re-assigned the full corpus
    * per batch). `queries` is a (query_id, embedding) batch. */
  def ivfServe(spark: org.apache.spark.sql.SparkSession, dir: String,
      queries: DataFrame, k: Int, nprobe: Int = 1): DataFrame = {
    val cents = Models.load(spark, dir, "coarse")
    val lists = Models.load(spark, dir, "lists")
    val wProbe = Window.partitionBy("query_id")
      .orderBy(col("ccos").desc, col("label").asc)
    val routed = queries
      .select(col("query_id"), col("embedding").as("q_emb"))
      .crossJoin(broadcast(cents))
      .withColumn("ccos", cosine("q_emb", "centroid"))
      .withColumn("rn", row_number().over(wProbe))
      .filter(col("rn") <= nprobe)
      .select(col("query_id"), col("q_emb"), col("label").as("probe_label"))
    val wRank = Window.partitionBy("query_id")
      .orderBy(col("cos").desc, col("vec_id").asc)
    lists.join(broadcast(routed),
        col("label") === col("probe_label") && col("vec_id") =!= col("query_id"))
      .withColumn("cos", cosine("q_emb", "embedding"))
      .withColumn("rank", row_number().over(wRank))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("vec_id").as("neighbor_id"))
  }

  /** Hard-negative mining for metric-learning data prep: per query, the
    * `k` most-similar vectors with a DIFFERENT label. Routed like
    * [[ivfTopK]], but over the query's `nprobe` nearest FOREIGN
    * label-centroids — since the inverted lists are label partitions,
    * every candidate in a probed list is different-label by construction,
    * so no per-candidate label check or self-exclusion is needed and the
    * scan stays bounded to nprobe lists at any corpus size. Rank-only
    * output with the negative's label as the parity witness. */
  def hardNegatives(emb: DataFrame, queryIds: Seq[Long], k: Int,
      nprobe: Int = 2): DataFrame = {
    val cents = centroids(emb)
    val queries = emb.filter(col("vec_id").isin(queryIds: _*))
      .select(col("vec_id").as("query_id"), col("embedding").as("q_emb"),
        col("label").as("q_label"))
    val wProbe = Window.partitionBy("query_id")
      .orderBy(col("ccos").desc, col("label").asc)
    val routed = queries.crossJoin(broadcast(cents))
      .filter(col("label") =!= col("q_label")) // foreign lists only
      .withColumn("ccos", cosine("q_emb", "centroid"))
      .withColumn("rn", row_number().over(wProbe))
      .filter(col("rn") <= nprobe)
      .select(col("query_id"), col("q_emb"), col("label").as("probe_label"))
    val wRank = Window.partitionBy("query_id")
      .orderBy(col("cos").desc, col("vec_id").asc)
    emb.join(broadcast(routed), col("label") === col("probe_label"))
      .withColumn("cos", cosine("q_emb", "embedding"))
      .withColumn("rank", row_number().over(wRank))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("vec_id").as("neighbor_id"),
        col("label").as("neighbor_label"))
  }

  /** Exact all-pairs variant of [[Neutral.cosineNearDupCounts]] — the
    * correctness baseline and oracle anchor. O(n²) BY DESIGN: only ever run
    * it on a bounded slice (the driver query caps vec_id < 200); the
    * LSH-blocked form is the corpus-scale path. */
  def cosineNearDupCountsExact(emb: DataFrame, minCos: Double): DataFrame = {
    val a = emb.select(col("vec_id").as("id_a"), col("embedding").as("e_a"))
    val b = emb.select(col("vec_id").as("id_b"), col("embedding").as("e_b"))
    val pairs = a.join(b, col("id_a") < col("id_b"))
      .filter(cosine("e_a", "e_b") >= minCos)
    emb.select(col("vec_id"))
      .join(pairs.select(explode(array(col("id_a"), col("id_b"))).as("vec_id"))
        .groupBy("vec_id").agg(count(lit(1)).as("n_near")),
        Seq("vec_id"), "left")
      .na.fill(0L, Seq("n_near"))
  }
}
