package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.expr.VecExprs

/** Embedding clustering for semantic dedup (SemDeDup-style): deterministic
  * Lloyd k-means over the embedding column, then near-duplicate pruning
  * restricted to intra-cluster pairs.
  *
  * Determinism contract (the PageRank/centroid pattern): seeds are the k
  * vectors with the smallest md5(vec_id) (content-independent, stable under
  * corpus growth ordering), assignment is argmax cosine with ascending
  * cluster-id tie-break, and centroid means accumulate per-element in
  * DECIMAL(18,6) — exact and partition-order-independent — before one
  * double division. Every iteration is therefore bit-reproducible across
  * runs, partitionings, and engines, which is what lets a fixed-iteration
  * run carry a DuckDB oracle (unrolled MATERIALIZED CTEs, one per step).
  *
  * Scale design: centroids are a k×dim table — broadcast at any corpus
  * size; assignment is one map-side crossJoin with a partially-aggregated
  * max-struct argmax (no window over n×k rows); the centroid update
  * shuffles (cluster, pos) partial sums only. Per iteration the lineage is
  * truncated by pinning the k×dim centroid table in the block cache (the
  * superseded pin is released immediately), so cost is linear in
  * iterations (uncached, the re-derived assignment subtree doubles per
  * iteration). SemDeDup pairing joins on the cluster id —
  * never corpus-wide all-pairs; with k scaled ∝ corpus size the per-cluster
  * candidate volume stays bounded, which is the point of clustering first.
  */
object Cluster {

  /** Deterministic seeds: the k vectors with smallest md5(vec_id), labeled
    * 0..k-1 in that order. No window: the pre-limited k rows are gathered
    * into one sorted array (struct order = (h, vec_id), unique) and
    * posexplode's position is the label — a global row_number over a
    * foldable partition key gets its partition eliminated by the optimizer
    * and logs the single-partition WindowExec warning on every run. */
  def seedCentroids(emb: DataFrame, k: Int): DataFrame =
    emb.select(col("vec_id"), col("embedding"),
        md5(col("vec_id").cast("string")).as("h"))
      .orderBy(col("h"), col("vec_id"))
      .limit(k)
      .agg(array_sort(collect_list(
        struct(col("h"), col("vec_id"), col("embedding")))).as("seeds"))
      .select(posexplode(col("seeds")).as(Seq("cluster", "s")))
      .select(col("cluster").cast("int").as("cluster"),
        transform(col("s.embedding"), _.cast("double")).as("c"))

  /** Nearest-centroid assignment: argmax cosine, ties to the smallest
    * cluster id. max(struct(cos, -cluster)) keeps the argmax inside a
    * partial aggregation (map-side combine) instead of a window over the
    * n×k crossJoin — at scale only (vec_id, best-so-far) rows shuffle. */
  def assign(emb: DataFrame, cents: DataFrame): DataFrame =
    emb.crossJoin(broadcast(cents))
      .select(col("vec_id"),
        VecExprs.cosineSim(col("embedding"), col("c")).as("cos"),
        col("cluster"))
      .groupBy("vec_id")
      .agg(max(struct(col("cos"), (-col("cluster")).as("negc"))).as("m"))
      .select(col("vec_id"), (-col("m.negc")).cast("int").as("cluster"))

  /** Exact per-cluster element means with the decimal determinism contract;
    * clusters that lost every member disappear (both engines drop empty
    * groups identically). */
  def updateCentroids(emb: DataFrame, assignment: DataFrame): DataFrame =
    emb.join(assignment, "vec_id")
      .select(col("cluster"), posexplode(col("embedding")).as(Seq("pos", "v")))
      .groupBy("cluster", "pos")
      .agg((sum(col("v").cast("double").cast(DecimalType(18, 6))).cast("double")
        / count(lit(1))).as("mean_v"))
      .groupBy("cluster")
      .agg(array_sort(collect_list(struct(col("pos"), col("mean_v")))).as("pc"))
      .select(col("cluster"), expr("transform(pc, x -> x.mean_v)").as("c"))

  /** Fixed-iteration Lloyd k-means: returns the final centroid table (the
    * (iters-1)-times-updated centroids, pinned in the block cache) and the
    * assignment computed from it — iteration i assigns with the current
    * centroids, then recomputes them (the final update is skipped; nothing
    * reads it). Callers that need the model (PQ codebooks, ADC lookup
    * tables) take the centroids; the assignment stays LAZY over them. */
  def kmeansFit(emb: DataFrame, k: Int = 8, iters: Int = 3): (DataFrame, DataFrame) = {
    require(k >= 1 && iters >= 1, "need k >= 1 and iters >= 1")
    val e = ScaleOps.fanOutCompute(
      emb.select(col("vec_id"), col("embedding")), "vec_id")
    // Pin each iteration's k×dim centroid table and release the superseded
    // pin immediately (cache+count, not localCheckpoint: recompute-on-
    // eviction is safe — every step is deterministic). Holding all iters
    // pins alive was measurable memory/GC pressure for every LATER query
    // in a single-JVM run.
    var cents = Pins.advance(null, seedCentroids(e, k))
    var a = assign(e, cents)
    for (_ <- 2 to iters) {
      cents = Pins.advance(cents, updateCentroids(e, a))
      a = assign(e, cents)
    }
    // The returned assignment stays LAZY over the final pinned centroid
    // table (so callers/tests see the real argmax plan, and a single
    // consumer pays exactly one pass); the one surviving cache is that
    // k×dim table — released by the per-query clearState in Bench/Verify.
    (cents, a)
  }

  /** Assignment-only view of [[kmeansFit]]. */
  def kmeansAssign(emb: DataFrame, k: Int = 8, iters: Int = 3): DataFrame =
    kmeansFit(emb, k, iters)._2

  /** Fit once and persist the k×dim centroid table under `dir` (parquet —
    * the durable model artifact). Deterministic fit ⇒ byte-identical on
    * rebuild, so served assignments share the fit form's oracle. */
  def kmeansBuild(emb: DataFrame, dir: String, k: Int = 8,
      iters: Int = 3): Unit =
    Pins.scoped(Models.save(emb.sparkSession, dir)(
      _.write("centroids", kmeansFit(emb, k, iters)._1)))

  /** Assign a corpus against PERSISTED centroids ([[kmeansBuild]]) — no
    * Lloyd iterations, just the one broadcast argmax pass. The apply half
    * of the fit/apply split: the same map-only scan serves any number of
    * corpora (or corpus increments) against one fitted model. */
  def kmeansAssignServed(spark: org.apache.spark.sql.SparkSession,
      dir: String, emb: DataFrame): DataFrame =
    assign(emb, Models.load(spark, dir, "centroids"))

  /** SemDeDup: cluster, then drop any vector that has a smaller-id
    * intra-cluster neighbor at cosine >= minCos (keep-the-minimum rule —
    * deterministic, one pass, no iterative peeling). Output: every vector
    * with its cluster and a kept flag. The only joins are equi on vec_id /
    * cluster; candidate pairs are intra-cluster by construction. */
  def semDedup(emb: DataFrame, minCos: Double, k: Int = 8,
      iters: Int = 3): DataFrame = {
    // eager localCheckpoint, NOT a cache pin (both r18-measured): the
    // assignment⋈embedding table feeds three plan branches, and what the
    // branches re-paid was not the broadcast-argmax EXECUTION (cheap over
    // the cached centroids — a cache pin measured 2.88→3.13 s, i.e. the
    // materialization cost more than the recompute) but the DRIVER-side
    // re-analysis of the ~140 KB Lloyd lineage on every AQE stage-job of
    // every branch. Checkpointing truncates the logical plan to the
    // materialized rows (the connectedComponents pattern): 2.84→2.05 s
    // warm median. Released by the per-query clearState.
    val a = Pins.checkpoint(kmeansAssign(emb, k, iters)
      .join(emb.select(col("vec_id"), col("embedding")), "vec_id"))
    val x = a.select(col("cluster"), col("vec_id").as("id_a"),
      col("embedding").as("e_a"))
    val y = a.select(col("cluster"), col("vec_id").as("id_b"),
      col("embedding").as("e_b"))
    val dropped = x.join(y, "cluster")
      .filter(col("id_a") < col("id_b") &&
        VecExprs.cosineSim(col("e_a"), col("e_b")) >= minCos)
      .select(col("id_b").as("vec_id"))
      .distinct()
    a.join(dropped.withColumn("is_dropped", lit(true)), Seq("vec_id"), "left")
      .select(col("vec_id"), col("cluster"),
        coalesce(col("is_dropped"), lit(false)) === false)
      .toDF("vec_id", "cluster", "kept")
  }
}
