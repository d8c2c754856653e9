package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Corpus-quality operators a large-scale training-data pipeline runs after
  * language ID / quality scoring and before tokenization: repetition
  * filters (Gopher-style), boilerplate segment removal (the line-level-dedup
  * analogue for unstructured text), sliding-window chunking, and domain
  * mixture weighting. All map-only or single-shuffle — no all-pairs
  * anywhere, so each survives a 100 TB corpus unchanged.
  *
  * Reference scope note: the reference warehouse has no corpus ops; these
  * are north-star extensions per the build contract (SURVEY §7.2 step 8).
  */
object CorpusQuality {

  /** Whitespace tokens, engine-neutral (mirrors TextAnalysis/Retrieval). */
  private def tokens(textCol: String): Column =
    filter(split(lower(trim(col(textCol))), "\\s+"), w => w =!= "")

  private def grams(ws: Column, n: Int): Column = {
    // transform(sequence(1, len-n+1)) — guarded: Spark's sequence(1, x)
    // DESCENDS for x < 1 instead of returning empty
    when(size(ws) >= n,
      transform(sequence(lit(1), size(ws) - (n - 1)),
        i => concat_ws(" ", (0 until n).map(off => element_at(ws, i + off)): _*)))
      .otherwise(array().cast("array<string>"))
  }

  /** Gopher-style per-document repetition metrics: the count of the most
    * frequent word bigram and the fraction of duplicate trigrams, plus a
    * keep flag combining both with a length floor. One explode + one
    * (doc, bigram) partial-agg shuffle — linear in corpus tokens; the
    * duplicate-trigram fraction is computed per row (no shuffle at all).
    * Fractions divide exact BIGINTs into doubles once, so they are
    * bit-identical across engines and partitionings. */
  def gopherRepetition(docs: DataFrame, textCol: String = "text",
      minTokens: Int = 20, maxTopBigramFrac: Double = 0.08,
      maxDupTriFrac: Double = 0.55): DataFrame = {
    val base = docs
      .select(col("doc_id"), tokens(textCol).as("ws"))
      .select(col("doc_id"), col("ws"),
        size(col("ws")).cast("long").as("n_tokens"),
        grams(col("ws"), 3).as("tg"))
      .select(col("doc_id"), col("ws"), col("n_tokens"),
        size(col("tg")).cast("long").as("n_tri"),
        (size(col("tg")) - size(array_distinct(col("tg")))).cast("long").as("n_dup_tri"))
    val topBigram = base
      .select(col("doc_id"), explode(grams(col("ws"), 2)).as("bg"))
      .groupBy("doc_id", "bg").agg(count(lit(1)).as("n"))
      .groupBy("doc_id").agg(max(col("n")).as("top_bigram_n"))
    val withFracs = base.drop("ws")
      .join(topBigram, Seq("doc_id"), "left")
      .withColumn("top_bigram_n", coalesce(col("top_bigram_n"), lit(0L)))
      .withColumn("top_bigram_frac",
        when(col("n_tokens") > 0,
          (col("top_bigram_n") * 2).cast("double") / col("n_tokens"))
          .otherwise(lit(0.0)))
      .withColumn("dup_tri_frac",
        when(col("n_tri") > 0,
          col("n_dup_tri").cast("double") / col("n_tri"))
          .otherwise(lit(0.0)))
    withFracs.withColumn("keep",
      col("n_tokens") >= minTokens &&
        col("top_bigram_frac") <= maxTopBigramFrac &&
        col("dup_tri_frac") <= maxDupTriFrac)
  }

  /** Boilerplate segment removal — the unstructured-text analogue of
    * CCNet's shared-line dedup: split each document into fixed
    * `segTokens`-token segments, fingerprint each (md5 of the joined
    * tokens), and drop segments whose document frequency reaches
    * `dfThreshold` (headers, license blobs, navigation chrome repeat
    * verbatim across documents). Per doc: segment counts and tokens
    * surviving. Two shuffles, both on the 32-hex-char segment digest —
    * payload text never shuffles, which is what keeps this viable when the
    * corpus is 100 TB but the repeated-segment table is gigabytes. */
  def boilerplateSegments(docs: DataFrame, textCol: String = "text",
      segTokens: Int = 8, dfThreshold: Int = 2): DataFrame = {
    val segs = docs
      .select(col("doc_id"), tokens(textCol).as("ws"))
      // guard: Spark's sequence(0, x) DESCENDS for x < 0 (phantom segments
      // for an empty doc); DuckDB's range(0) is empty and drops the doc
      .filter(size(col("ws")) > 0)
      .select(col("doc_id"), size(col("ws")).as("n"),
        explode(sequence(lit(0),
          floor((size(col("ws")) + (segTokens - 1)) / lit(segTokens)).cast("int") - 1)).as("i"),
        col("ws"))
      .select(col("doc_id"),
        md5(array_join(slice(col("ws"), col("i") * segTokens + 1, lit(segTokens)), " ")).as("seg_hash"),
        least(lit(segTokens), col("n") - col("i") * segTokens).cast("long").as("seg_len"))
    val dfs = segs.groupBy("seg_hash")
      .agg(countDistinct(col("doc_id")).as("seg_df"))
    segs.join(dfs, "seg_hash")
      .groupBy("doc_id")
      .agg(
        count(lit(1)).as("n_segments"),
        count(when(col("seg_df") >= dfThreshold, 1)).as("n_removed"),
        coalesce(sum(when(col("seg_df") < dfThreshold, col("seg_len"))), lit(0L))
          .as("kept_tokens"))
  }

  /** Sliding-window chunking with overlap — the context-window packing
    * shape RAG/pretraining ingestion uses (size 32, stride 24 → 8-token
    * overlap). Map-only: each document fans out to its own chunks via one
    * sequence explode; no shuffle at any corpus size. Chunk count is
    * 1 + ceil(max(0, n - size) / stride), so a short doc still yields its
    * one (possibly short) chunk. */
  def chunkWithOverlap(docs: DataFrame, textCol: String = "text",
      size: Int = 32, stride: Int = 24): DataFrame = {
    require(stride > 0 && size >= stride, "need 0 < stride <= size")
    val n = org.apache.spark.sql.functions.size(col("ws"))
    val nChunks =
      floor((greatest(n - size, lit(0)) + (stride - 1)) / lit(stride)).cast("int") + 1
    docs
      .select(col("doc_id"), tokens(textCol).as("ws"))
      .filter(n > 0)
      .select(col("doc_id"), n.as("n"), col("ws"),
        posexplode(sequence(lit(0), nChunks - 1)))
      .select(col("doc_id"),
        col("pos").cast("long").as("chunk_id"),
        (col("col") * stride).cast("long").as("start_tok"),
        least(lit(size), col("n") - col("col") * stride).cast("long").as("chunk_tokens"),
        md5(array_join(slice(col("ws"), col("col") * stride + 1, lit(size)), " ")).as("chunk_hash"))
  }

  /** Content-defined chunking: chunk boundaries fall AFTER token i
    * whenever the hash of the (token i−1, token i) bigram lands in the
    * 1/`divisor` boundary class — so boundaries are a function of LOCAL
    * CONTENT, not position. That is the property fixed-stride chunking
    * lacks: insert a sentence at the top of a document and every
    * fixed-stride chunk after it shifts (new hashes, dedup misses them
    * all), while CDC boundaries downstream of the edit are unchanged and
    * those chunks dedup exactly (OpsSpec measures this). Expected chunk
    * length = `divisor` tokens. Map-only per-doc array work — one
    * posexplode fan-out, no shuffle at any corpus size. The gram hash is
    * the md5-prefix form every neutral kernel here uses, so the oracle
    * reproduces boundaries bit-for-bit; no min/max chunk clamps (those
    * need a sequential per-doc scan — at 100 TB the pure-hash form keeps
    * the op embarrassingly parallel, and the boundary class already
    * bounds the length distribution geometrically). */
  def chunkContentDefined(docs: DataFrame, textCol: String = "text",
      divisor: Int = 16): DataFrame = {
    val ws = col("ws")
    val n = org.apache.spark.sql.functions.size(ws)
    // compiled kernel: one walk hashing each adjacent bigram straight to
    // the md5-prefix long — the composable form ([[chunkContentDefinedRef]],
    // ExprSpec-pinned) paid the interpreted lambda evaluator per token
    // position plus a 32-hex-char round trip per bigram
    val bpos = graft.expr.CdcBoundaries.cdcBoundaries(ws, divisor)
    docs
      .select(col("doc_id"), tokens(textCol).as("ws"))
      .filter(n > 0)
      .select(col("doc_id"), ws,
        concat(array(lit(1)), transform(bpos, b => b + 1)).as("starts"),
        concat(bpos, array(n)).as("ends"))
      .select(col("doc_id"), ws, col("starts"), col("ends"),
        posexplode(sequence(lit(1),
          org.apache.spark.sql.functions.size(col("starts")))))
      .select(col("doc_id"),
        col("pos").cast("long").as("chunk_id"),
        (element_at(col("ends"), col("col"))
          - element_at(col("starts"), col("col")) + 1).cast("long")
          .as("n_tokens"),
        md5(array_join(slice(ws, element_at(col("starts"), col("col")),
          element_at(col("ends"), col("col"))
            - element_at(col("starts"), col("col")) + 1), " "))
          .as("chunk_hash"))
  }

  /** Composable built-in form of [[chunkContentDefined]] — the semantic
    * reference the CdcBoundaries kernel must match bit-for-bit
    * (ExprSpec). */
  private[graft] def chunkContentDefinedRef(docs: DataFrame,
      textCol: String = "text", divisor: Int = 16): DataFrame = {
    val ws = col("ws")
    val n = org.apache.spark.sql.functions.size(ws)
    def gramHash(i: Column): Column =
      conv(substring(md5(concat_ws(" ",
        element_at(ws, i - 1), element_at(ws, i))), 1, 8), 16, 10)
        .cast("long") % divisor
    // boundaries live in [2, n-1]: a boundary at n would leave an empty
    // tail chunk; Spark's sequence(2, 1) counts DOWN, hence the guard
    val bpos = when(n >= lit(3),
      filter(sequence(lit(2), n - 1), i => gramHash(i) === 0))
      .otherwise(array().cast("array<int>"))
    docs
      .select(col("doc_id"), tokens(textCol).as("ws"))
      .filter(n > 0)
      .select(col("doc_id"), ws,
        concat(array(lit(1)), transform(bpos, b => b + 1)).as("starts"),
        concat(bpos, array(n)).as("ends"))
      .select(col("doc_id"), ws, col("starts"), col("ends"),
        posexplode(sequence(lit(1),
          org.apache.spark.sql.functions.size(col("starts")))))
      .select(col("doc_id"),
        col("pos").cast("long").as("chunk_id"),
        (element_at(col("ends"), col("col"))
          - element_at(col("starts"), col("col")) + 1).cast("long")
          .as("n_tokens"),
        md5(array_join(slice(ws, element_at(col("starts"), col("col")),
          element_at(col("ends"), col("col"))
            - element_at(col("starts"), col("col")) + 1), " "))
          .as("chunk_hash"))
  }

  /** Domain mixture weighting: per-source token shares and the capped
    * up/down-sampling multiplier that would equalize the mixture toward a
    * uniform target (weight = min(cap, target_share / actual_share) — the
    * DoReMi/Pile-style static mixture primitive). One count shuffle over
    * sources plus a 1-row broadcast of corpus totals. Shares divide exact
    * BIGINT sums once; the weight reuses the share value verbatim so both
    * engines evaluate the identical IEEE expression tree. */
  def domainMixWeights(docs: DataFrame, textCol: String = "text",
      sourceCol: String = "source", cap: Double = 4.0): DataFrame = {
    // cached for the same double-reference reason as temperatureMixWeights
    val perSrc = Pins.cache(docs
      .select(col(sourceCol).as("source"), tokens(textCol).as("ws"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum(size(col("ws")).cast("long")).as("tokens")))
    val tot = perSrc.agg(sum(col("tokens")).as("total_tokens"),
      count(lit(1)).as("n_sources"))
    perSrc.join(broadcast(tot))
      .withColumn("token_share",
        col("tokens").cast("double") / col("total_tokens"))
      .withColumn("weight",
        least(lit(cap), (lit(1.0) / col("n_sources")) / col("token_share")))
      .select("source", "n_docs", "tokens", "token_share", "weight")
  }

  /** Temperature-weighted source mixing at α = 0.5: per-source sampling
    * weights w ∝ p^α over token shares — the multilingual/multi-source
    * rebalancing curve (upweights tail sources toward, but not all the way
    * to, uniform). α is FIXED at 0.5 because sqrt is correctly rounded per
    * IEEE-754 in both engines, unlike pow(x, α) whose last ulp is
    * libm-dependent — the determinism contract extended to the temperature
    * curve (general α runs the same plan, rank-stable but not hash-exact).
    * Normalization sums the sqrt terms in DECIMAL(18,9) (order-independent
    * exact sum); `boost` = w/p is the per-source up/down-sampling factor a
    * sampler multiplies in. One count shuffle + two 1-row broadcasts. */
  def temperatureMixWeights(docs: DataFrame, textCol: String = "text",
      sourceCol: String = "source"): DataFrame = {
    // cached: the n_sources-row table feeds BOTH the normalizer aggregate
    // and the output join — uncached, each reference re-runs the full
    // corpus token-count scan (ReuseExchange does not fire across the
    // branches), which is 2 extra corpus passes at scale
    val perSrc = Pins.cache(docs
      .select(col(sourceCol).as("source"), tokens(textCol).as("ws"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum(size(col("ws")).cast("long")).as("tokens")))
    val tot = perSrc.agg(sum(col("tokens")).as("total_tokens"))
    val ps = perSrc.join(broadcast(tot))
      .withColumn("p", col("tokens").cast("double") / col("total_tokens"))
      .withColumn("sp",
        sqrt(col("p")).cast(org.apache.spark.sql.types.DecimalType(18, 9)))
    val z = ps.agg(sum(col("sp")).as("z"))
    ps.join(broadcast(z))
      .withColumn("w", col("sp").cast("double") / col("z").cast("double"))
      .withColumn("boost", col("w") / col("p"))
      .select("source", "n_docs", "tokens", "p", "w", "boost")
  }

  /** Distribution drift between the train and val splits: per length-bucket
    * KL(train‖val) contributions. Catches a broken split (or a corpus
    * update that skewed one side) before training does. Bucket counts are
    * one small shuffle; probabilities divide exact counts, and each
    * p·ln(p/q) term rounds to DECIMAL(18,6) BEFORE any cross-engine
    * comparison/sum (the ln-ulp determinism contract, as in the unigram
    * LM score). */
  def splitDrift(docs: DataFrame, bucketWidth: Int = 50, maxBucket: Int = 9)
      : DataFrame = {
    val s = Sampling.withSplit(docs)
      .select(col("doc_id"), col("split"),
        least((col("n_chars") / bucketWidth).cast("long"), lit(maxBucket.toLong))
          .as("bucket"))
      .filter(col("split").isin("train", "val"))
    val counts = s.groupBy("split", "bucket").agg(count(lit(1)).as("n"))
    val tr = counts.filter(col("split") === "train")
      .select(col("bucket"), col("n").as("n_train"))
    val va = counts.filter(col("split") === "val")
      .select(col("bucket"), col("n").as("n_val"))
    // ungrouped conditional aggregate: always exactly one row (NULL totals
    // when a split is empty), matching the oracle's ungrouped tt/tv CTEs —
    // a groupBy here would yield zero rows and empty the whole output
    val tot = counts.agg(
      sum(when(col("split") === "train", col("n"))).as("tot_train"),
      sum(when(col("split") === "val", col("n"))).as("tot_val"))
    tr.join(va, Seq("bucket"), "full_outer")
      .na.fill(0L, Seq("n_train", "n_val"))
      .join(broadcast(tot))
      .withColumn("p_train", col("n_train").cast("double") / col("tot_train"))
      .withColumn("p_val", col("n_val").cast("double") / col("tot_val"))
      .withColumn("kl_term",
        when(col("n_train") > 0 && col("n_val") > 0,
          (col("p_train") * log(col("p_train") / col("p_val")))
            .cast(org.apache.spark.sql.types.DecimalType(18, 6)))
          .cast("double"))
      .select("bucket", "n_train", "n_val", "p_train", "p_val", "kl_term")
  }
}
