package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Count-min sketch: fixed-size frequency summaries for unbounded key
  * spaces — the point-query twin of the HLL/KMV cardinality sketches in
  * [[ScaleOps]].
  *
  * An exact per-key count table grows with the number of DISTINCT keys —
  * at 100 TB that is itself a corpus-sized artifact. The CMS keeps
  * `depth × width` counters total (a few KB), regardless of key
  * cardinality: each key increments one bucket per row (row i's bucket =
  * md5-derived hash_i(key) mod width), and a point estimate is the MIN of
  * the key's `depth` bucket counts. Guarantees are one-sided: the estimate
  * NEVER undercounts (every occurrence of the key landed in each probed
  * bucket), and overcounts only by colliding keys' mass — expected N/width
  * per row, and the min over `depth` independent rows makes a large excess
  * exponentially unlikely (est ≤ exact + e·N/width with prob 1 − e^−depth).
  *
  * Spark-first shape: the cell table is ONE pass — an array of `depth`
  * hash positions per row (codegen'd md5 expressions), posexploded and
  * grouped, so partial aggregation caps every map task's output at
  * depth×width rows before the shuffle; the shuffle moves O(depth·width)
  * rows per partition, never O(distinct keys). Cells are ADDITIVE
  * (elementwise counter sums), so per-shard / per-batch sketches fold by a
  * plain groupBy-sum — the mergeability that makes one artifact serve a
  * 1000-executor build, an append-only maintenance loop
  * ([[cmsAppend]] / [[graft.streaming.StreamOps.cmsIngest]]), and a
  * distributed union of corpora. Every hash is the md5-prefix construction
  * shared with the KMV/Bloom/MinHash family, so estimates are
  * deterministic and reproducible in ANSI SQL (the driver's DuckDB oracle
  * hash-compares the ESTIMATES, not just a tolerance gate).
  *
  * Reference scope: the reference warehouse keeps only exact GROUP BY
  * counts (e.g. fighters_by_wins.sql); the sketch path is the
  * beyond-reference scale complement, same role as ScaleOps.kmvDistinct.
  */
object CountMin {

  /** Default geometry: 4 rows × 1024 buckets = 4096 counters (~32 KB of
    * longs) — ε = e/1024 ≈ 0.27% of stream mass, δ = e^−4 ≈ 1.8%. */
  val DefaultDepth = 4
  val DefaultWidth = 1024

  /** Row-i bucket of `key`: first 8 md5 hex chars of "cms:i:key" as a
    * BIGINT, mod width. DuckDB twin:
    * CAST('0x' || substring(md5('cms:' || i || ':' || CAST(key AS
    * VARCHAR)), 1, 8) AS BIGINT) % width. */
  def cmsBucket(key: Column, i: Int, width: Int): Column =
    conv(substring(md5(concat(lit(s"cms:$i:"), key.cast("string"))), 1, 8),
      16, 10).cast("long") % width

  /** The sketch itself: (row_i, bucket, cnt) cell rows — at most
    * depth × width of them. One scan, one bounded shuffle (map-side
    * partial count caps each task's contribution at depth×width rows).
    * NULL keys are excluded (they have no point query). */
  def cmsCells(df: DataFrame, keyCol: String, depth: Int = DefaultDepth,
      width: Int = DefaultWidth): DataFrame = {
    require(depth >= 1 && depth <= 16, "depth in [1, 16]")
    require(width >= 2, "width >= 2")
    df.filter(col(keyCol).isNotNull)
      .select(posexplode(array(
        (0 until depth).map(i => cmsBucket(col(keyCol), i, width)): _*))
        .as(Seq("row_i", "bucket")))
      .groupBy("row_i", "bucket")
      .agg(count(lit(1)).as("cnt"))
  }

  /** Point estimates for `keys` (one column `keyCol`, distinct): min over
    * the key's depth buckets. The cell table is ≤ depth×width rows —
    * broadcast, so estimation is map-only over the keys. Keys that hit an
    * absent cell (possible only for keys NOT in the sketched stream) read
    * 0 — the empty-bucket count. */
  def cmsEstimate(cells: DataFrame, keys: DataFrame, keyCol: String,
      depth: Int = DefaultDepth, width: Int = DefaultWidth): DataFrame =
    keys.select(col(keyCol),
        posexplode(array(
          (0 until depth).map(i => cmsBucket(col(keyCol), i, width)): _*))
          .as(Seq("row_i", "bucket")))
      .join(broadcast(cells), Seq("row_i", "bucket"), "left")
      .groupBy(keyCol)
      .agg(min(coalesce(col("cnt"), lit(0L))).as("cms_est"))

  // ------------------------------------------------- persisted artifact

  /** Build and persist the sketch: cell rows under $dir/cells, with
    * (depth, width) recorded in the manifest. Geometry is READ BACK by
    * [[cmsAppend]]/[[cmsServe]] rather than re-supplied by the caller — a
    * serve-time depth/width different from build-time would silently
    * probe the wrong buckets. */
  def cmsBuild(df: DataFrame, dir: String, keyCol: String,
      depth: Int = DefaultDepth, width: Int = DefaultWidth): Unit =
    Models.save(df.sparkSession, dir)(
      _.write("cells", cmsCells(df, keyCol, depth, width))
        .param("depth", depth).param("width", width))

  /** Fold one delta batch into the persisted sketch (scans the BATCH
    * only; geometry from the artifact's manifest). Appended cell rows are
    * additive partials — [[cmsServe]] sums them, so append order and
    * multiplicity-of-fold never change an estimate, and a half-written
    * append is repaired by exactly-once foreachBatch replay. */
  def cmsAppend(batch: DataFrame, dir: String, keyCol: String): Unit = {
    val spark = batch.sparkSession
    val cells = cmsCells(batch, keyCol, Models.param(spark, dir, "depth"),
      Models.param(spark, dir, "width"))
    Models.append(spark, dir)(_.write("cells", cells))
  }

  /** Serve point estimates from the persisted sketch: fold the appended
    * partial cells (one groupBy over ≤ depth×width×batches rows) and
    * estimate — the corpus that built the sketch is never re-scanned. */
  def cmsServe(spark: SparkSession, dir: String, keys: DataFrame,
      keyCol: String): DataFrame = {
    val cells = Models.load(spark, dir, "cells")
      .groupBy("row_i", "bucket").agg(sum(col("cnt")).as("cnt"))
    cmsEstimate(cells, keys, keyCol, Models.param(spark, dir, "depth"),
      Models.param(spark, dir, "width"))
  }

  /** Compact the folded artifact back to ≤ depth×width rows (serve
    * results unchanged — the fold is the serve's own first step). */
  def cmsCompact(spark: SparkSession, dir: String): Unit =
    Models.rewrite(spark, dir)(_.update("cells")(
      _.groupBy("row_i", "bucket").agg(sum(col("cnt")).cast("long").as("cnt"))))
}
