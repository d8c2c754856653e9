package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Bottom-k-sample quantile sketch: per group, keep the k rows whose
  * 32-bit md5-prefix hash of a UNIQUE row id is smallest — a uniform
  * random sample without replacement that is
  *   - order-independent (a pure function of the row set, so any
  *     partitioning/merge order yields the same sketch),
  *   - mergeable (bottom-k(A ∪ B) = bottom-k(bottom-k(A) ∪ bottom-k(B)),
  *     the KMV union algebra — which makes the persisted artifact
  *     APPENDABLE: a delta batch contributes its own bottom-k rows and
  *     the serve-time re-rank is the fold), and
  *   - engine-neutral (the same md5-prefix family as ScaleOps.kmvDistinct
  *     and the MinHash oracle chain, so a SQL engine reproduces the
  *     sample — and therefore the ESTIMATE — bit-for-bit).
  * Quantile estimates are discrete selections from the sample (the value
  * at rank ⌈q·n⌉ of the sorted sample): no interpolation arithmetic, so
  * cross-engine comparison is exact. Sampling error is governed by
  * DKW: sup_q |F_sample(q) − F(q)| ≤ √(ln(2/δ)/2k) ≈ 0.072 at k = 512,
  * δ = 0.01 — the serve-side gate checks the exact CDF at each estimate.
  *
  * At 100 TB the sketch is the only thing that moves: the build is one
  * corpus scan partial-aggregated to ≤ k rows per group (the per-group
  * top-k ranks map-side via WindowGroupLimit), appends scan only their
  * batch, and serving reads a groups×k-row table, never the corpus.
  */
object SampleQuantile {
  val DefaultK = 512

  private def hvCol(id: Column): Column =
    conv(substring(md5(id.cast("string")), 1, 8), 16, 10)
      .cast("long").as("hv")

  /** The sketch rows (group, hv, v, rid): bottom-k by (hv, v) per group.
    * Ranking ties on (hv, v) — not hv alone — so a 32-bit hash collision
    * at the boundary still resolves identically in any engine. The row id
    * rides along (as a string, matching the md5 input) purely as the
    * replay-dedup key: [[serveSketch]] folds away only rows identical in
    * (group, hv, v, rid) — a true replay — while two DISTINCT ids that
    * collide on the 32-bit hv with an equal value both survive, exactly
    * as they both do in a rebuild-on-everything. Without the id the serve
    * dedup would merge that ~2^-32 collision pair and append-then-serve
    * could deviate from the rebuild by one sample row. */
  def sketchOf(df: DataFrame, groupCol: String, idCol: String,
      valueCol: String, k: Int = DefaultK): DataFrame = {
    require(k >= 2, "sample sketch needs k >= 2")
    val w = Window.partitionBy(groupCol).orderBy(col("hv"), col("v"))
    df.filter(col(valueCol).isNotNull && col(idCol).isNotNull)
      .select(col(groupCol), hvCol(col(idCol)), col(valueCol).as("v"),
        col(idCol).cast("string").as("rid"))
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") <= k).drop("__rn")
  }

  /** Discrete quantile estimates from a sketch: for each (name, q) the
    * sample value at rank ⌈q·n⌉ ordered by (v, hv) — pure selection,
    * bit-exact across engines. Adds n_sample. */
  def quantiles(sketch: DataFrame, groupCol: String,
      qs: Seq[(String, Double)]): DataFrame = {
    val wr = Window.partitionBy(groupCol).orderBy(col("v"), col("hv"))
    val ranked = sketch
      .withColumn("__vr", row_number().over(wr))
      .withColumn("__n", count(lit(1)).over(Window.partitionBy(groupCol)))
    val aggs = max(col("__n")).as("n_sample") +: qs.map { case (nm, q) =>
      max(when(col("__vr") ===
        ceil(lit(q) * col("__n")).cast("long"), col("v"))).as(nm)
    }
    ranked.groupBy(groupCol).agg(aggs.head, aggs.tail: _*)
  }

  // ------------------------------------------------- persisted artifact

  /** Build and persist: sample rows under $dir/sample, with k recorded
    * in the manifest — read back by [[append]]/[[serveSketch]], never
    * re-supplied by the caller (as the CMS geometry and Bloom mBits). */
  def build(df: DataFrame, dir: String, groupCol: String, idCol: String,
      valueCol: String, k: Int = DefaultK): Unit =
    Models.save(df.sparkSession, dir)(_.write("sample",
      sketchOf(df, groupCol, idCol, valueCol, k)).param("k", k))

  /** Fold a delta batch into the artifact: append the BATCH's own
    * bottom-k rows (scans only the batch). Appended rows are sample
    * candidates, not the sample — [[serveSketch]]'s re-rank is the fold,
    * so append order never matters, and a replayed append (exactly-once
    * foreachBatch recovery) is absorbed by the serve-side (hv, v) dedup. */
  def append(batch: DataFrame, dir: String, groupCol: String,
      idCol: String, valueCol: String): Unit = {
    val k = Models.param(batch.sparkSession, dir, "k")
    Models.append(batch.sparkSession, dir)(
      _.write("sample", sketchOf(batch, groupCol, idCol, valueCol, k)))
  }

  /** The folded sample: bottom-k of all persisted candidate rows. Reads
    * the groups×k×batches artifact only — the corpus never re-scans. */
  def serveSketch(spark: SparkSession, dir: String,
      groupCol: String): DataFrame =
    bottomK(Models.load(spark, dir, "sample"), Models.param(spark, dir, "k"),
      groupCol)

  private def bottomK(sample: DataFrame, k: Int,
      groupCol: String): DataFrame = {
    val w = Window.partitionBy(groupCol).orderBy(col("hv"), col("v"))
    sample
      // only TRUE replays fold away: the rid keeps genuinely distinct rows
      // that collide on (hv, v) apart, matching rebuild-on-everything
      .dropDuplicates(groupCol, "hv", "v", "rid")
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") <= k).drop("__rn")
  }

  /** Quantile estimates served from the artifact. */
  def quantilesServed(spark: SparkSession, dir: String, groupCol: String,
      qs: Seq[(String, Double)]): DataFrame =
    quantiles(serveSketch(spark, dir, groupCol), groupCol, qs)

  /** Rewrite the candidate table as the folded bottom-k (serve results
    * unchanged — the fold is the serve's own first step). */
  def compact(spark: SparkSession, dir: String, groupCol: String): Unit = {
    val k = Models.param(spark, dir, "k")
    Models.rewrite(spark, dir)(_.update("sample")(bottomK(_, k, groupCol)))
  }
}
