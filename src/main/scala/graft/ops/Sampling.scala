package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deterministic dataset splitting for training pipelines. Splits must be
  * reproducible across runs, engines, AND partitionings — `rand()` is none
  * of those — so the bucket is pure content-independent arithmetic on the
  * row id: the first 16 bits of md5(id) mod 100. Map-only at any scale,
  * and a row's split never changes when the corpus grows (the property
  * that keeps eval sets stable across dataset versions). */
object Sampling {

  /** Stable bucket in [0, 100) from the row id. */
  def splitBucket(idCol: Column): Column =
    conv(substring(md5(idCol.cast("string")), 1, 4), 16, 10)
      .cast("long") % 100

  /** [[splitBucket]] salted with a purpose tag, so operators composed in
    * one pipeline draw INDEPENDENT deterministic decisions per row. The
    * unsalted bucket is shared by withSplit / stratifiedSample /
    * weightedKeep by design (split stability); an operator that layers a
    * second random decision on top of a split (e.g. fractional resampling
    * AFTER an 80/10/10 split) must not reuse the same bucket — otherwise
    * a fraction < 0.8 lands exclusively inside train-bucket docs and the
    * realized rate on the train subset becomes frac/0.8, not frac. */
  def saltedBucket(purpose: String, idCol: Column): Column =
    conv(substring(md5(concat(lit(purpose + ":"), idCol.cast("string"))),
      1, 4), 16, 10).cast("long") % 100

  /** Fractional-epoch corpus repetition — the data-mixing primitive for
    * "train on source X for e epochs" budgets where e is rarely an
    * integer: each row emits ⌊e⌋ full copies (a `copy` index column)
    * plus one extra copy when its "epoch"-salted md5 bucket falls under
    * the fractional part — so realized repetition converges to e per
    * source while every decision stays a deterministic pure function of
    * the row id (reproducible across runs, engines, and partitionings;
    * no rand()). e < 1 degenerates to plain downsampling (zero full
    * copies, fractional keep). Map-only: an explode over a ≤ ⌈e⌉-element
    * array, no shuffle, no state. */
  def epochUpsample(df: DataFrame, epochs: Column,
      idCol: String = "doc_id"): DataFrame = {
    val nFull = floor(epochs)
    val full = when(nFull >= 1,
      sequence(lit(0), (nFull - 1).cast("int")))
      .otherwise(array().cast("array<int>"))
    val frac = epochs - nFull
    val extra = when(
      saltedBucket("epoch", col(idCol)).cast("double") < frac * 100,
      array(nFull.cast("int"))).otherwise(array().cast("array<int>"))
    df.withColumn("copy", explode(concat(full, extra)))
  }

  /** Deterministic stratified sample: keep `rates(stratum)`% of each
    * stratum (`defaultPct`% for unlisted strata) using the same md5 bucket
    * as [[withSplit]] — the language/source-rebalancing primitive. Map-only
    * (the rate lookup folds into a CASE expression, no join), reproducible,
    * and monotone in the rate: raising a stratum's rate only ADDS rows,
    * never swaps them (bucket membership is fixed per id). */
  def stratifiedSample(df: DataFrame, idCol: String = "doc_id",
      stratumCol: String = "lang", rates: Map[String, Int] = Map.empty,
      defaultPct: Int = 0): DataFrame = {
    require((rates.values ++ Seq(defaultPct)).forall(p => p >= 0 && p <= 100),
      "rates must be percentages in [0, 100]")
    val pct = rates.toSeq.sortBy(_._1).foldLeft(lit(defaultPct)) {
      case (acc, (k, v)) => when(col(stratumCol) === k, lit(v)).otherwise(acc)
    }
    df.filter(splitBucket(col(idCol)) < pct)
  }

  /** Quality-weighted deterministic sampling: keep a row with probability
    * proportional to a per-row weight in [0, 1] (a quality score), decided
    * by the same md5 bucket as [[withSplit]] — reproducible across runs and
    * engines, map-only, and monotone (raising a row's weight can only flip
    * it from dropped to kept). The per-row acceptance percentage is
    * floor(weight·100) clamped to [0, 100]. */
  def weightedKeep(df: DataFrame, idCol: String = "doc_id",
      weightCol: String = "quality_score"): DataFrame =
    df.withColumn("keep_pct",
        greatest(lit(0L), least(lit(100L),
          floor(col(weightCol) * 100).cast("long"))))
      .withColumn("keep_bucket", splitBucket(col(idCol)))
      .withColumn("kept", col("keep_bucket") < col("keep_pct"))

  /** Quality-band (curriculum-phase) assignment: band b = number of
    * quantile boundaries at or below the row's score, with the
    * boundaries computed ONCE (one exact-percentile aggregate) and
    * BROADCAST — so the per-row assignment is map-only at any corpus
    * size, unlike the textbook ntile(n), whose empty OVER () clause
    * funnels the entire corpus through one partition. Curriculum
    * training orders data easy→hard by exactly these bands; the
    * boundary count, not the row count, bounds everything that moves.
    * Ties land in the higher band (score >= boundary), so bands
    * partition the corpus exactly. */
  def withQualityBands(df: DataFrame, scoreCol: String,
      nBands: Int = 4): DataFrame = {
    require(nBands >= 2, "need at least two bands")
    val probs = (1 until nBands).map(_.toDouble / nBands)
    val bounds = df.agg(
      expr(s"percentile($scoreCol, array(${probs.mkString(", ")}))")
        .as("__bounds"))
    df.join(broadcast(bounds))
      .withColumn("band",
        org.apache.spark.sql.functions.size(
          filter(col("__bounds"), b => col(scoreCol) >= b)).cast("long"))
      .drop("__bounds")
  }

  /** Materialize per-source mix weights into an actual resampled corpus:
    * each doc is emitted `floor(boost)` times plus one more with
    * probability frac(boost), decided by a PURPOSE-SALTED stable md5
    * bucket ([[saltedBucket]] with tag "resample") so the fractional-copy
    * decision is independent of the split/stratify/keep buckets — the step
    * that turns [[CorpusQuality.temperatureMixWeights]]' `boost` column
    * (or any per-source multiplier) into training rows. Deterministic
    * across runs/engines/partitionings, map-only after a broadcast join
    * of the (tiny) weight table; a boost < 1 degenerates to weighted
    * downsampling, a boost > 1 to replication with a fractional tail.
    * Output keys are (doc_id, copy) — downstream shuffles see distinct
    * keys, not duplicated ids. */
  def resampleByWeight(docs: DataFrame, weights: DataFrame,
      idCol: String = "doc_id", keyCol: String = "source",
      boostCol: String = "boost"): DataFrame = {
    val nCopies =
      (floor(col(boostCol)).cast("long")
        + when(saltedBucket("resample", col(idCol)).cast("double") / 100.0
            < col(boostCol) - floor(col(boostCol)), 1L).otherwise(0L))
        .as("n_copies")
    docs
      .join(broadcast(weights.select(col(keyCol), col(boostCol))), keyCol)
      .select(col(idCol), col(keyCol), nCopies)
      .withColumn("copy",
        explode(when(col("n_copies") > 0,
            sequence(lit(1L), col("n_copies")))
          .otherwise(array().cast("array<long>"))))
      .select(idCol, keyCol, "copy")
  }

  /** Token-budget corpus selection: admit the highest-`scoreCol` documents
    * until `budgetTokens` whitespace tokens are spent — the "best data
    * that fits the training budget" gate.
    *
    * A naive global running sum would put the whole corpus in ONE window
    * partition; instead the cutoff is resolved in two scale-safe phases:
    *  1. docs are bucketed by floor(score·1000); per-bucket token totals
    *     get a running sum over the (bounded-by-score-range, NOT
    *     corpus-sized) bucket list — buckets that fit entirely are
    *     admitted wholesale;
    *  2. only the single boundary bucket is refined row-by-row: a window
    *     partitioned BY THAT BUCKET orders (score desc, id) and admits the
    *     maximal prefix that still fits the remaining budget.
    * Prefix semantics at the boundary (stop at the first doc that
    * overflows, don't keep scanning for smaller docs) keeps the result a
    * deterministic rank cut rather than a knapsack. Ties are broken by id.
    * Per-row double score math is bit-identical across engines, so the
    * whole selection is oracle-exact. */
  def selectWithinTokenBudget(docs: DataFrame, budgetTokens: Long,
      idCol: String = "doc_id", scoreCol: String = "quality_score",
      tokensCol: String = "n_ws_tokens"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(budgetTokens >= 0, "budgetTokens must be >= 0")
    // d is consumed by the bucket totals AND the per-doc join; uncached,
    // the (regex-heavy) upstream scoring would execute twice. Narrow
    // projection only — 4 columns, not the document text.
    val d = Pins.cache(
      docs.select(col(idCol), col(scoreCol), col(tokensCol))
        .withColumn("__bucket", floor(col(scoreCol) * 1000).cast("long")))
    val overBuckets = Window.orderBy(col("__bucket").desc)
      .rowsBetween(Window.unboundedPreceding, -1)
    val buckets = d.groupBy("__bucket")
      .agg(sum(col(tokensCol)).as("__btok"))
      .withColumn("__prior", coalesce(sum(col("__btok")).over(overBuckets), lit(0L)))
    val withPrior = d.join(buckets, Seq("__bucket"))
    val full = withPrior.filter(col("__prior") + col("__btok") <= budgetTokens)
    val inBucket = Window.partitionBy("__bucket")
      .orderBy(col(scoreCol).desc, col(idCol).asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val boundary = withPrior
      .filter(col("__prior") <= lit(budgetTokens) &&
        col("__prior") + col("__btok") > budgetTokens)
      .withColumn("__run", sum(col(tokensCol)).over(inBucket))
      .filter(col("__prior") + col("__run") <= budgetTokens)
      .drop("__run")
    full.unionByName(boundary)
      .select(col(idCol), col(scoreCol), col(tokensCol))
  }

  /** Deterministic global shuffle into training shards — the step between
    * corpus prep and the training loader. Training wants the corpus in a
    * content-independent random order, reproducibly, as N roughly equal
    * shards with a dense within-shard position (so a loader can seek /
    * resume). A true global sort by a random key is the terasort shape —
    * one full range-partitioned sort of 100 TB; instead:
    *  - shard = first 16 bits of md5("shard:" || id) mod numShards — a
    *    map-only hash partition, purpose-salted ([[saltedBucket]] rationale)
    *    so shard assignment is independent of the split/resample buckets;
    *  - pos = rank of the FULL md5 hex within the shard (ties by id) — a
    *    per-shard sort, parallel across shards, never global. With
    *    numShards sized to the cluster (thousands at 100 TB), each sort is
    *    corpus/numShards — the same work a shuffle reducer already does.
    * Hex md5 compares lexicographically as the 128-bit value, so the order
    * is exactly "by random key" and any engine reproduces it. */
  def trainShards(df: DataFrame, numShards: Int,
      idCol: String = "doc_id"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(numShards > 0, "numShards must be positive")
    val perShard = Window.partitionBy(col("shard"))
      .orderBy(col("__h").asc, col(idCol).asc)
    // shard from the top 15 hex chars (60 bits, still a non-negative
    // long): 16 bits gave numShards-that-don't-divide-65536 a systematic
    // ~numShards/65536 balance bias and left shards empty past 65536 —
    // at odds with cluster-sized shard counts. 60 bits makes the bias
    // ~numShards/2^60 (immaterial at any real shard count).
    df.withColumn("__h", md5(concat(lit("shard:"), col(idCol).cast("string"))))
      .withColumn("shard",
        (conv(substring(col("__h"), 1, 15), 16, 10).cast("long")
          % numShards).cast("long"))
      .withColumn("pos", (row_number().over(perShard) - 1).cast("long"))
      .drop("__h")
  }

  /** Per-group document cap (the FineWeb "max docs per domain" stage):
    * keep at most `maxPerGroup` docs per `groupCol`, chosen by a
    * content-independent salted-md5 order (a deterministic uniform
    * sample of each group, not "whichever rows came first") with doc_id
    * tiebreak. One window per GROUP — ranking parallelizes across
    * domains, there is no global sort, and because the filter is a
    * row_number <= k bound, Catalyst plans a map-side WindowGroupLimit:
    * each input partition prunes to its own per-group top-k BEFORE the
    * shuffle, so the exchange moves at most k·groups rows per task, not
    * the corpus (PlanSpec pins the operator). At 100 TB a single
    * pathological domain can still dominate one reduce partition — the
    * same salting lever as the skew joins applies upstream if a domain
    * exceeds a task. */
  def capPerGroup(df: DataFrame, maxPerGroup: Int,
      groupCol: String = "source", idCol: String = "doc_id"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(maxPerGroup > 0, "maxPerGroup must be positive")
    val order = Window.partitionBy(col(groupCol))
      .orderBy(col("__h").asc, col(idCol).asc)
    df.withColumn("__h",
        md5(concat(lit("cap:"), col(idCol).cast("string"))))
      .withColumn("__rk", row_number().over(order))
      .filter(col("__rk") <= maxPerGroup)
      .drop("__h", "__rk")
  }

  /** Adds `split_bucket` and a `split` label: first `trainPct` buckets →
    * train, next `valPct` → val, rest → test. */
  def withSplit(df: DataFrame, idCol: String = "doc_id",
      trainPct: Int = 80, valPct: Int = 10): DataFrame = {
    require(trainPct + valPct <= 100, "train + val must leave room for test")
    val b = splitBucket(col(idCol))
    df.withColumn("split_bucket", b)
      .withColumn("split",
        when(col("split_bucket") < trainPct, "train")
          .when(col("split_bucket") < trainPct + valPct, "val")
          .otherwise("test"))
  }
}
