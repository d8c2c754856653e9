package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Scalar (int8) embedding quantization — the storage/serving compression
  * step an embedding corpus goes through before ANN serving: per-dimension
  * min/max over the corpus, each element mapped to an 8-bit code, plus the
  * reconstruction error that decides whether int8 is acceptable.
  *
  * Two passes, both scale-safe: pass 1 reduces to a dim-sized min/max
  * table (partial-aggregated, broadcast back); pass 2 is map-only per
  * element. Codes are integer-exact cross-engine: min/max of exact
  * float→double values are order-independent, and floor((v-mn)*255/(mx-mn))
  * evaluates one identical IEEE expression tree on both sides. The
  * reconstruction-error sum rounds each |v - v̂| term to DECIMAL(18,6)
  * before the cross-row sum (the ln-ulp contract shape), so per-vector
  * totals are partition-order-independent.
  */
object Quantize {

  /** Per-dimension corpus min/max (pass 1) — dim rows, broadcastable. */
  def sqStats(emb: DataFrame, embCol: String = "embedding"): DataFrame =
    emb.select(posexplode(col(embCol)).as(Seq("pos", "v")))
      .groupBy("pos")
      .agg(min(col("v").cast("double")).as("mn"),
        max(col("v").cast("double")).as("mx"))

  /** Per-vector int8 codes and reconstruction error (pass 2): code_hash is
    * md5 over the position-ordered code string (a compact equality witness
    * for the whole code vector), recon_err the decimal-rounded sum of
    * per-element |v - v̂| with v̂ = mn + (q + 0.5)·(mx - mn)/255 (the same
    * 255-wide grid the codes use, so every element reconstructs within
    * half a step). Constant
    * dimensions (mx == mn) code to 0 with zero error contribution's v̂
    * pinned to mn. */
  def sqQuantize(emb: DataFrame, idCol: String = "vec_id",
      embCol: String = "embedding"): DataFrame = {
    val stats = sqStats(emb, embCol)
    val vd = col("v").cast("double")
    val q = when(col("mx") > col("mn"),
      least(lit(255L), greatest(lit(0L),
        floor(((vd - col("mn")) * 255.0) / (col("mx") - col("mn"))).cast("long"))))
      .otherwise(lit(0L))
    emb.select(col(idCol), posexplode(col(embCol)).as(Seq("pos", "v")))
      .join(broadcast(stats), "pos")
      .withColumn("q", q)
      .withColumn("vhat",
        when(col("mx") > col("mn"),
          col("mn") + ((col("q").cast("double") + 0.5) * (col("mx") - col("mn"))) / 255.0)
          .otherwise(col("mn")))
      .withColumn("err", abs(vd - col("vhat")).cast(DecimalType(18, 6)))
      .groupBy(idCol)
      .agg(array_sort(collect_list(struct(col("pos"), col("q")))).as("pc"),
        sum(col("err")).cast("double").as("recon_err"))
      .select(col(idCol),
        md5(array_join(transform(col("pc"), x => x.getField("q").cast("string")), ","))
          .as("code_hash"),
        col("recon_err"))
  }

  // -------------------------------------------------- product quantization

  /** Product quantization: the embedding splits into `m` contiguous
    * subspaces of `subDim` dimensions; each subspace is clustered with the
    * deterministic Lloyd k-means ([[Cluster.kmeansFit]]) and a vector's
    * code is its per-subspace cluster id — m small ints (m·log2(k) bits)
    * instead of dim floats, the standard memory cut for billion-vector ANN
    * (int8 scalar quantization above is 4×; PQ at m=4, k=8 is ~170× on a
    * 64-dim float vector). Returns one (codebook, assignment) pair per
    * subspace. All determinism rides on the k-means contract (md5 seeds,
    * decimal means, ascending tie-breaks), so codes are oracle-exact. */
  def pqFit(emb: DataFrame, m: Int = 4, subDim: Int = 16, k: Int = 8,
      iters: Int = 2, idCol: String = "vec_id",
      embCol: String = "embedding"): (DataFrame, DataFrame) = {
    // All m sub-codebooks fit in ONE grouped Lloyd loop: the subspace id
    // rides as a key through every stage, so each iteration is exactly one
    // assignment shuffle and one centroid-update shuffle for ALL subspaces
    // (m separate kmeansFit calls paid m independent job chains — measured
    // ~2x the whole query's cost). Identical output by construction: the
    // seeds are the same k smallest-md5 vec_ids in every subspace, and
    // argmax / decimal means group per (s, cluster). Fanned before the
    // subspace cache, so every Lloyd iteration reads a multi-partition
    // cache.
    val subs = Pins.cache(
      subspaceSplit(
        ScaleOps.fanOutCompute(emb.select(col(idCol), col(embCol)), idCol),
        m, subDim, idCol, embCol))
    val seedIds = emb
      .select(col(idCol).as("vec_id"), md5(col(idCol).cast("string")).as("h"))
      .orderBy(col("h"), col("vec_id"))
      .limit(k)
      .agg(array_sort(collect_list(struct(col("h"), col("vec_id")))).as("a"))
      .select(posexplode(col("a")).as(Seq("cluster", "x")))
      .select(col("cluster").cast("int").as("cluster"), col("x.vec_id").as("vec_id"))
    def assign(cents: DataFrame): DataFrame = assignSubspaces(subs, cents)
    def update(a: DataFrame): DataFrame =
      subs.join(a, Seq("s", "vec_id"))
        .select(col("s"), col("cluster"), posexplode(col("sv")).as(Seq("pos", "v")))
        .groupBy("s", "cluster", "pos")
        .agg((sum(col("v").cast(DecimalType(18, 6))).cast("double")
          / count(lit(1))).as("mean_v"))
        .groupBy("s", "cluster")
        .agg(array_sort(collect_list(struct(col("pos"), col("mean_v")))).as("pc"))
        .select(col("s"), col("cluster"), expr("transform(pc, x -> x.mean_v)").as("c"))
    var cents = Pins.advance(null, subs.join(broadcast(seedIds), Seq("vec_id"))
      .select(col("s"), col("cluster"), col("sv").as("c")))
    var a = assign(cents)
    for (_ <- 2 to iters) {
      cents = Pins.advance(cents, update(a))
      a = assign(cents)
    }
    // cents: (s, cluster, c); a: (s, vec_id, cluster) — a stays lazy over
    // the final pin + the cached subspace table (per-query clearState
    // releases both)
    (cents, a)
  }

  /** The guarded m×subDim subspace split: one (s, vec_id, sv) row per
    * subspace. Fails fast on a dimension mismatch: slice() past the end
    * of a shorter embedding yields short/empty subvectors and a fit or
    * encode would "succeed" with degenerate codes — a silent quality bug.
    * The guard turns it into an immediate error at the first
    * materializing action. */
  private def subspaceSplit(emb: DataFrame, m: Int, subDim: Int,
      idCol: String, embCol: String): DataFrame = {
    val subsArr = expr(
      s"transform(sequence(0, ${m - 1}), s -> slice($embCol, s * $subDim + 1, $subDim))")
    val guarded = when(size(col(embCol)) >= m * subDim, subsArr)
      .otherwise(raise_error(concat(
        lit("embedding dim "), size(col(embCol)).cast("string"),
        lit(s" is shorter than m*subDim = ${m * subDim}; " +
          "PQ subvectors would be truncated — fix m/subDim"))))
    emb.select(col(idCol).as("vec_id"), posexplode(guarded).as(Seq("s", "sv")))
      .select(col("s"), col("vec_id"),
        transform(col("sv"), _.cast("double")).as("sv"))
  }

  /** Per-subspace argmax-cosine assignment against broadcast codebooks —
    * a partial-aggregated max-struct, never a window over n×k rows. */
  private def assignSubspaces(subs: DataFrame, cents: DataFrame): DataFrame =
    subs.join(broadcast(cents), Seq("s"))
      .select(col("s"), col("vec_id"),
        graft.expr.VecExprs.cosineSim(col("sv"), col("c")).as("cos"),
        col("cluster"))
      .groupBy("s", "vec_id")
      .agg(max(struct(col("cos"), (-col("cluster")).as("negc"))).as("m"))
      .select(col("s"), col("vec_id"), (-col("m.negc")).cast("int").as("cluster"))

  /** Encode vectors against PERSISTED codebooks (the `codebooks` table an
    * [[ivfPqBuild]] wrote) — the daily-ingest append path: new embeddings
    * get PQ codes with ZERO Lloyd work, one broadcast argmax pass per
    * subspace. Encoding the fit corpus itself reproduces the fit's codes
    * exactly (the fit's final assignment IS this argmax against the final
    * codebooks), which is what lets the served form share q_ns_pq_codes'
    * oracle. */
  def pqEncodeServed(spark: org.apache.spark.sql.SparkSession, dir: String,
      emb: DataFrame, m: Int = 4, subDim: Int = 16): DataFrame =
    codesOf(
      assignSubspaces(
        subspaceSplit(emb, m, subDim, "vec_id", "embedding"),
        Models.load(spark, dir, "codebooks")),
      m)

  /** (vec_id, code_0..code_{m-1}) from a pqFit assignment — one pivot
    * aggregation over the per-subspace rows. */
  private def codesOf(a: DataFrame, m: Int): DataFrame =
    a.groupBy("vec_id")
      .agg(
        max(when(col("s") === 0, col("cluster"))).cast("long").as("code_0"),
        (1 until m).map(s =>
          max(when(col("s") === s, col("cluster"))).cast("long").as(s"code_$s")): _*)

  /** Per-vector PQ codes as flat columns code_0..code_{m-1}. */
  def pqEncode(emb: DataFrame, m: Int = 4, subDim: Int = 16, k: Int = 8,
      iters: Int = 2): DataFrame = {
    val (_, a) = pqFit(emb, m, subDim, k, iters)
    codesOf(a, m)
  }

  /** Left-to-right double dot product — textually the same fold the DuckDB
    * oracle's list_reduce runs, so scores are bit-identical. */
  private def dotLR(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x.cast("double") * y),
      lit(0.0), (acc, v) => acc + v)

  /** Inner-product ADC top-k: each query precomputes an m×k lookup table
    * of (query subvector · codebook centroid) dots, and a candidate's
    * approximate score is the sum of its m code lookups — the classic
    * asymmetric-distance scan. The LUTs are queries×m×k rows (broadcast at
    * any corpus size); the corpus-side work is one map-only scan of the
    * m-int code table plus a per-query top-k — no full-precision vectors
    * are touched after encoding, which is the entire point of PQ at scale.
    * Scores sum the m lookups in fixed textual order (bit-exact
    * cross-engine); rank-only output, ties (identical code tuples) broken
    * by vec_id. */
  /** Per-query m×k ADC lookup tables: (query_id, code_s, d_s) for each
    * subspace — queries×m×k rows total, broadcast at any corpus size. */
  private def lutsOf(queries: DataFrame, cents: DataFrame, m: Int,
      subDim: Int): Seq[DataFrame] =
    (0 until m).map { s =>
      queries
        .select(col("query_id"),
          slice(col("embedding"), s * subDim + 1, subDim).as("qs"))
        .crossJoin(broadcast(cents.filter(col("s") === s)))
        .select(col("query_id"), col("cluster").cast("long").as(s"code_$s"),
          dotLR(col("qs"), col("c")).as(s"d_$s"))
    }

  def pqTopK(emb: DataFrame, queryIds: Seq[Long], kNN: Int, m: Int = 4,
      subDim: Int = 16, k: Int = 8, iters: Int = 2): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val (cents, a) = pqFit(emb, m, subDim, k, iters)
    // eager localCheckpoint: the ADC tail's AQE stages otherwise re-analyze
    // the ~150 KB fit lineage per stage-job (cold rep 28→12 s in the A/B);
    // ledger-tracked and released by the per-query clearState like the CC
    // checkpoints
    val codes = Pins.checkpoint(codesOf(a, m))
    val queries = emb.filter(col("vec_id").isin(queryIds: _*))
      .select(col("vec_id").as("query_id"), col("embedding"))
    val luts = lutsOf(queries, cents, m, subDim)
    val scored = luts.zipWithIndex.foldLeft(codes) { case (acc, (lut, s)) =>
      val keys = if (s == 0) Seq(s"code_$s") else Seq("query_id", s"code_$s")
      acc.join(broadcast(lut), keys)
    }
    val score = (0 until m).map(s => col(s"d_$s")).reduce(_ + _)
    val w = Window.partitionBy("query_id")
      .orderBy(col("score").desc, col("vec_id").asc)
    scored
      .filter(col("vec_id") =!= col("query_id"))
      .withColumn("score", score)
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= kNN)
      .select(col("query_id"), col("rank"), col("vec_id").as("neighbor_id"))
  }

  /** IVF-PQ: the standard billion-vector serving composition — a coarse
    * quantizer (per-label centroids, the same routing as
    * [[Similarity.ivfTopK]]) bounds the scan to each query's `nprobe`
    * inverted lists, and the scanned fraction is scored by PQ-ADC lookups
    * over m-int codes, never full-precision vectors. At scale: centroids
    * are nlist×dim (broadcast), LUTs are queries×m×k (broadcast), and the
    * corpus side reads only (vec_id, label, codes) — the footprint that
    * makes a 10^9-vector index servable from a fraction of the raw bytes.
    * Labels partition the corpus, so probed lists are disjoint and the
    * rerank window needs no dedup. Rank-only output (ADC score ordering,
    * vec_id tie-break) keeps it hash-comparable cross-engine. */
  def ivfPqTopK(emb: DataFrame, queryIds: Seq[Long], kNN: Int,
      nprobe: Int = 2, m: Int = 4, subDim: Int = 16, k: Int = 8,
      iters: Int = 2): DataFrame = {
    val (cents, a) = pqFit(emb, m, subDim, k, iters)
    // eager localCheckpoint (the CC-loop pattern): codes feeds BOTH the
    // probed-list candidate scan and the ADC re-attach join, and the lazy
    // form re-analyzes the whole ~200 KB fit lineage on every AQE stage
    // of both branches — truncating to the materialized rows cut the cold
    // rep 28→12 s and the warm min ~10% in the pq twin's A/B
    val codes = Pins.checkpoint(codesOf(a, m)
      .join(emb.select(col("vec_id"), col("label")), Seq("vec_id")))
    val queries = emb.filter(col("vec_id").isin(queryIds: _*))
      .select(col("vec_id").as("query_id"), col("embedding"))
    ivfPqScan(queries, Similarity.centroids(emb), cents, codes,
      kNN, nprobe, m, subDim)
  }

  /** The serving half of IVF-PQ, shared by the refitting form
    * ([[ivfPqTopK]]) and the artifact form ([[ivfPqServe]]): coarse route
    * via broadcast centroids, candidates as narrow (query_id, vec_id)
    * keys from the probed inverted lists, ADC scoring by broadcast LUT
    * equi joins, per-query top-k. Contains NO fitting — every input table
    * is either the query batch or a model/index table. */
  private def ivfPqScan(queries: DataFrame, coarse: DataFrame,
      codebooks: DataFrame, codes: DataFrame, kNN: Int, nprobe: Int,
      m: Int, subDim: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // coarse route: nprobe nearest label-centroids per query
    val wProbe = Window.partitionBy("query_id")
      .orderBy(col("ccos").desc, col("label").asc)
    val routed = queries.crossJoin(broadcast(coarse))
      .withColumn("ccos",
        graft.expr.VecExprs.cosineSim(col("embedding"), col("centroid")))
      .withColumn("rn", row_number().over(wProbe))
      .filter(col("rn") <= nprobe)
      .select(col("query_id"), col("label").as("probe_label"))
    // candidates: vectors in the probed lists, carried as narrow
    // (query_id, vec_id) keys; codes + LUT dots attach by equi join
    val cand = codes.select(col("vec_id"), col("label"))
      .join(broadcast(routed),
        col("label") === col("probe_label") && col("vec_id") =!= col("query_id"))
      .select("query_id", "vec_id")
    val luts = lutsOf(queries, codebooks, m, subDim)
    val scored = luts.zipWithIndex
      .foldLeft(cand.join(codes.drop("label"), Seq("vec_id"))) {
        case (acc, (lut, s)) =>
          acc.join(broadcast(lut), Seq("query_id", s"code_$s"))
      }
    val score = (0 until m).map(s => col(s"d_$s")).reduce(_ + _)
    val w = Window.partitionBy("query_id")
      .orderBy(col("score").desc, col("vec_id").asc)
    scored
      .withColumn("score", score)
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= kNN)
      .select(col("query_id"), col("rank"), col("vec_id").as("neighbor_id"))
  }

  /** Fit the complete IVF-PQ index ONCE and persist it under `dir` as
    * three parquet tables — the durable artifact a serving fleet loads:
    *  - `coarse`:    (label, centroid)            nlist×dim, broadcastable
    *  - `codebooks`: (s, cluster, c)              m×k×subDim
    *  - `codes`:     (vec_id, label, code_0..m-1) the encoded corpus —
    *    m small ints + a route label per vector, the fraction-of-raw-bytes
    *    footprint that makes 10^9 vectors servable.
    * Every fit is bit-deterministic, so rebuilding reproduces the artifact
    * exactly; [[ivfPqServe]] therefore shares the refitting form's oracle. */
  def ivfPqBuild(emb: DataFrame, dir: String, m: Int = 4, subDim: Int = 16,
      k: Int = 8, iters: Int = 2): Unit =
    Pins.scoped {
      val (cents, a) = pqFit(emb, m, subDim, k, iters)
      Models.save(emb.sparkSession, dir)(
        _.write("coarse", Similarity.centroids(emb)).write("codebooks", cents)
          .write("codes", codesOf(a, m).join(
            emb.select(col("vec_id"), col("label")), Seq("vec_id"))))
    }

  /** Serve IVF-PQ top-k from a persisted index — NO fitting: the coarse
    * centroids, codebooks, and encoded corpus are loaded from `dir`
    * ([[ivfPqBuild]]); the only corpus-shaped input read is the code
    * table. `queries` is the (query_id, embedding) batch. */
  def ivfPqServe(spark: org.apache.spark.sql.SparkSession, dir: String,
      queries: DataFrame, kNN: Int, nprobe: Int = 2, m: Int = 4,
      subDim: Int = 16): DataFrame =
    ivfPqScan(queries,
      Models.load(spark, dir, "coarse"),
      Models.load(spark, dir, "codebooks"),
      Models.load(spark, dir, "codes"),
      kNN, nprobe, m, subDim)

  /** PQ recall@k vs the EXACT inner-product ranking — the quality metric
    * that decides whether a (m, k, iters) configuration is servable. The
    * exact side is the brute broadcast scan (bounded query set); both
    * rankings and the per-query hit count are oracle-reproducible. */
  def pqRecallAtK(emb: DataFrame, queryIds: Seq[Long], kNN: Int, m: Int = 4,
      subDim: Int = 16, k: Int = 8, iters: Int = 2): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val approx = pqTopK(emb, queryIds, kNN, m, subDim, k, iters)
      .select("query_id", "neighbor_id")
    val queries = emb.filter(col("vec_id").isin(queryIds: _*))
      .select(col("vec_id").as("query_id"), col("embedding").as("q_emb"))
    val w = Window.partitionBy("query_id")
      .orderBy(col("score").desc, col("vec_id").asc)
    val exact = emb.join(broadcast(queries), col("vec_id") =!= col("query_id"))
      .withColumn("score", dotLR(col("q_emb"), col("embedding")))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= kNN)
      .select(col("query_id"), col("vec_id").as("neighbor_id"))
    val hits = approx.join(exact, Seq("query_id", "neighbor_id"))
      .groupBy("query_id").agg(count(lit(1)).as("n_hits"))
    queries.select("query_id")
      .join(hits, Seq("query_id"), "left")
      .na.fill(0L, Seq("n_hits"))
  }
}
