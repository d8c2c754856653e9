package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** DSIR-style data selection: hashed n-gram importance resampling
  * (Xie et al. 2023, "Data Selection for Language Models via Importance
  * Resampling"). Documents from a raw crawl are weighted by how much
  * their hashed unigram+bigram distribution looks like a small target
  * (quality) corpus, then selected by Gumbel top-k — sampling without
  * replacement proportional to the importance weights.
  *
  * Scale shape (the reason the op is bucketed):
  *  - The MODEL is one table of [[Buckets]] log-ratios — fitting is two
  *    corpus passes that partial-aggregate down to that many rows
  *    (map-side combine; the shuffle moves at most Buckets rows per
  *    task), and the fitted artifact is kilobytes, broadcast at any
  *    corpus size.
  *  - SERVING is map-only feature hashing plus one broadcast join and a
  *    per-doc partial agg — the 100 TB crawl is scanned once, nothing
  *    corpus-sized shuffles.
  *  - SELECTION is Gumbel top-k via TakeOrderedAndProject (per-partition
  *    top-k, then a k-row driver merge) — no global sort.
  *
  * Determinism contract (oracle-twin discipline, see [[Neutral]]):
  * buckets come from the first 16 bits of md5("dsir:" || gram) so both
  * engines hash identically; every ln rounds to DECIMAL(18,6) at the leaf
  * and per-doc sums accumulate in exact decimal arithmetic; the Gumbel
  * noise derives from the md5-uniform u = (hex16("dsirg:" || id) + 0.5)
  * / 2^16.
  */
object Dsir {

  /** Buckets in the hashed feature space, shared by every fit, serve and
    * persisted artifact (so no artifact can disagree with its server).
    * Divides 2^16 (the md5 prefix width), so the bucket mod is exactly
    * uniform. */
  private[graft] val Buckets = 512

  private val dec = DecimalType(18, 6)

  private def wsCol(textCol: String): Column =
    filter(split(lower(trim(col(textCol))), "\\s+"), x => x =!= "")

  /** Unigrams ++ adjacent bigrams ("w1 w2") — the paper's feature set. */
  private def gramsCol(textCol: String): Column = {
    val ws = wsCol(textCol)
    val bigrams = when(size(ws) >= 2,
      zip_with(
        slice(ws, lit(1), size(ws) - 1),
        slice(ws, lit(2), size(ws) - 1),
        (a, b) => concat(a, lit(" "), b)))
      .otherwise(array().cast("array<string>"))
    concat(ws, bigrams)
  }

  /** First 16 bits of md5("dsir:" || gram) mod [[Buckets]] — the hashed
    * feature index, engine-neutral by the md5 seeding contract. */
  private def bucketCol(gram: Column): Column =
    conv(substring(md5(concat(lit("dsir:"), gram)), 1, 4), 16, 10)
      .cast("long") % Buckets

  /** (id, bucket) — one row per gram occurrence. Map-only. The compiled
    * [[graft.expr.DsirGramBuckets]] kernel replaces the
    * explode(grams)+md5-hex+conv chain: the composable form re-entered
    * the interpreted zip_with lambda per bigram and round-tripped every
    * gram through a 32-char hex string to read 2 bytes back out
    * (ExprSpec pins the kernel bit-identical to [[bucketedRef]]). */
  private def bucketed(docs: DataFrame, idCol: String,
      textCol: String): DataFrame =
    docs.select(col(idCol),
      explode(graft.expr.DsirGramBuckets.dsirGramBuckets(
        lower(trim(col(textCol))), Buckets)).as("bucket"))

  /** Built-in-functions reference form of [[bucketed]] — the semantic
    * spec the kernel must match bit-for-bit (ExprSpec). Operators run
    * the kernel. */
  private[graft] def bucketedRef(docs: DataFrame, idCol: String,
      textCol: String): DataFrame =
    docs.select(col(idCol), explode(gramsCol(textCol)).as("gram"))
      .select(col(idCol), bucketCol(col("gram")).as("bucket"))

  /** One corpus pass → per-bucket gram-occurrence counts (≤ Buckets rows
    * after the partial-agg shuffle). */
  private def bucketCounts(df: DataFrame, idCol: String, textCol: String,
      as: String): DataFrame =
    bucketed(df, idCol, textCol).groupBy("bucket").agg(count(lit(1)).as(as))

  /** Model from count tables: per-bucket log importance ratio
    * lr[b] = ln p̂_target[b] − ln p̂_raw[b], both Laplace-smoothed
    * ((c_b + 1) / (T + Buckets)) and each ln rounded to DECIMAL(18,6)
    * before the subtraction. Returns the Buckets-row model table
    * (bucket, lr) — every bucket present, broadcastable. Counts in, so
    * the count-form artifact ([[dsirBuildCounts]]) rebuilds the model at
    * load for free (a Buckets-row transform). */
  private def modelOfCounts(spark: SparkSession, rawC: DataFrame,
      tgtC: DataFrame): DataFrame = {
    val rawT = rawC.agg(coalesce(sum(col("nr")), lit(0L)).as("tr"))
    val tgtT = tgtC.agg(coalesce(sum(col("nt")), lit(0L)).as("tt"))
    def smoothedLn(n: Column, tot: Column): Column =
      log((coalesce(n, lit(0L)) + 1).cast("double") / (tot + Buckets))
        .cast(dec)
    spark.range(Buckets).toDF("bucket")
      .join(rawC, Seq("bucket"), "left")
      .join(tgtC, Seq("bucket"), "left")
      .join(broadcast(rawT))
      .join(broadcast(tgtT))
      .select(col("bucket"),
        (smoothedLn(col("nt"), col("tt"))
          - smoothedLn(col("nr"), col("tr"))).cast(dec).as("lr"))
  }

  /** Fit from corpora (see [[modelOfCounts]] for the ratio contract). */
  def dsirModel(raw: DataFrame, target: DataFrame, textCol: String = "text",
      idCol: String = "doc_id"): DataFrame =
    modelOfCounts(raw.sparkSession, bucketCounts(raw, idCol, textCol, "nr"),
      bucketCounts(target, idCol, textCol, "nt"))

  /** Apply: per-doc importance log-weight — the sum of the model's
    * log-ratios over the doc's gram occurrences (exact decimal sum,
    * surfaced as DOUBLE; the decimal sum rides along as `__lw` for
    * [[dsirResample]]'s key arithmetic). Docs with zero grams have no
    * weight rows, as in the paper (nothing to resample on). One
    * broadcast join, one per-doc partial agg; the corpus never shuffles
    * whole. */
  def dsirWeightsWith(docs: DataFrame, model: DataFrame,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame =
    bucketed(docs, idCol, textCol)
      .join(broadcast(model), Seq("bucket"))
      .groupBy(idCol)
      .agg(count(lit(1)).as("n_grams"), sum(col("lr")).as("__lw"))
      .select(col(idCol), col("n_grams"),
        col("__lw").cast("double").as("dsir_logw"), col("__lw"))

  /** Fit-and-weight in one call: target = `targetWhere` slice of `docs`,
    * raw = all of `docs` (the paper's raw-vs-target contrast). Because
    * the target is a SUBSET of the raw corpus here, both count tables
    * come from ONE gram pass (conditional count on the target predicate)
    * instead of dsirModel's two — one fewer full-corpus explode+hash
    * scan, byte-identical counts. */
  def dsirWeights(docs: DataFrame, targetWhere: Column,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame =
    dsirWeightsWith(docs, dsirModelSubset(docs, targetWhere, textCol, idCol),
      idCol, textCol)

  /** Fit when the target is a SUBSET of the raw corpus (the common
    * in-query shape): ONE gram pass with a conditional target count
    * instead of [[dsirModel]]'s two — byte-identical counts, one fewer
    * full-corpus explode+hash scan. */
  def dsirModelSubset(raw: DataFrame, targetWhere: Column,
      textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    // the ≤Buckets-row count table feeds both the ratio join and the
    // totals — pin it so the corpus gram pass runs once (the lmBigramModel
    // n12 precedent; the cache is bucket-bounded, never corpus-sized)
    val counts = Pins.cache(raw
      .select(targetWhere.as("__t"),
        explode(graft.expr.DsirGramBuckets.dsirGramBuckets(
          lower(trim(col(textCol))), Buckets)).as("bucket"))
      .groupBy("bucket")
      .agg(count(lit(1)).as("nr"),
        sum(when(col("__t"), 1L).otherwise(0L)).as("nt")))
    modelOfCounts(raw.sparkSession,
      counts.select("bucket", "nr"), counts.select("bucket", "nt"))
  }

  /** Persist the fitted model (one parquet table, Buckets rows).
    * Deterministic fit ⇒ byte-identical on rebuild, so served weights
    * share the fit form's oracle. */
  def dsirBuild(raw: DataFrame, target: DataFrame, dir: String,
      textCol: String = "text", idCol: String = "doc_id"): Unit =
    Models.save(raw.sparkSession, dir)(
      _.write("logratio", dsirModel(raw, target, textCol, idCol)))

  /** Weight a corpus against a PERSISTED model — zero fitting at serve
    * time (the daily-crawl selection pass). */
  def dsirServe(spark: SparkSession, dir: String, docs: DataFrame,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame =
    dsirWeightsWith(docs, Models.load(spark, dir, "logratio"), idCol, textCol)

  /** COUNT-form artifact: persist the raw/target bucket-count tables
    * instead of precomputed log-ratios. Counts are ADDITIVE — the raw
    * side tracks a growing crawl via [[dsirAppendRaw]] with no refit
    * scan of old data — and the log-ratio model rebuilds from them at
    * load time as a Buckets-row transform (free). This is the DSIR
    * twin of the dedup index's append lifecycle. */
  def dsirBuildCounts(raw: DataFrame, target: DataFrame, dir: String,
      textCol: String = "text", idCol: String = "doc_id"): Unit =
    Models.save(raw.sparkSession, dir)(
      _.write("raw_counts", bucketCounts(raw, idCol, textCol, "nr"))
        .write("target_counts", bucketCounts(target, idCol, textCol, "nt")))

  /** Fold a new raw batch's bucket counts into the count-form artifact —
    * scan the BATCH only; the loaded table may then hold several rows
    * per bucket, summed at load. */
  def dsirAppendRaw(newRaw: DataFrame, dir: String,
      textCol: String = "text", idCol: String = "doc_id"): Unit =
    Models.append(newRaw.sparkSession, dir)(
      _.write("raw_counts", bucketCounts(newRaw, idCol, textCol, "nr")))

  /** Compact the count-form artifact: fold the appended per-bucket rows
    * to one row per bucket (the exact integer sum serve performs at
    * load). Serve-after-compact is bit-identical; what it buys is the
    * load-time fold shrinking from O(batches·buckets) rows back to the
    * Buckets bound. */
  def dsirCompactCounts(spark: SparkSession, dir: String): Unit =
    Models.rewrite(spark, dir)(_.update("raw_counts")(
      _.groupBy("bucket").agg(sum(col("nr")).cast("long").as("nr"))))

  /** Weight a corpus against the COUNT-form artifact: sum the (possibly
    * appended) per-bucket count rows, rebuild the log-ratio model (a
    * Buckets-row job), and serve. Bit-identical to a full refit on
    * the same cumulative corpus — exact decimal/count arithmetic all the
    * way down. */
  def dsirServeCounts(spark: SparkSession, dir: String, docs: DataFrame,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val rawC = Models.load(spark, dir, "raw_counts")
      .groupBy("bucket").agg(sum(col("nr")).as("nr"))
    val tgtC = Models.load(spark, dir, "target_counts")
      .groupBy("bucket").agg(sum(col("nt")).as("nt"))
    dsirWeightsWith(docs, modelOfCounts(spark, rawC, tgtC), idCol, textCol)
  }

  /** Gumbel top-k selection over fitted weights: key = logw + g where
    * g = −ln(−ln(u)) and u is the md5-uniform of "dsirg:" || id — exact
    * sampling without replacement proportional to exp(logw) (Vieira 2014,
    * "Gumbel-max trick"), deterministic under the seeding contract.
    * The key stays in decimal until the final projection so both engines
    * order identical values; ties (impossible in practice) break by id.
    * TakeOrderedAndProject: no global sort at any corpus size. */
  def dsirResample(weights: DataFrame, k: Int,
      idCol: String = "doc_id"): DataFrame = {
    val u = (conv(substring(md5(concat(lit("dsirg:"),
      col(idCol).cast("string"))), 1, 4), 16, 10).cast("double") + 0.5) / 65536.0
    val g = -log(-log(u))
    weights
      .withColumn("__key", col("__lw") + g.cast(dec))
      .orderBy(desc("__key"), asc(idCol))
      .limit(k)
      .select(col(idCol), col("n_grams"), col("dsir_logw"),
        col("__key").cast("double").as("sel_key"))
  }
}
