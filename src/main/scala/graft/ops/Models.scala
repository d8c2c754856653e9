package graft.ops

import java.util.concurrent.ConcurrentHashMap

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{coalesce, col, countDistinct, lit, max}

/** Persisted model artifacts: the fit/apply split for the
  * learned-parameter operators (PQ codebooks, IVF coarse centroids,
  * k-means centroids, BPE merges).
  *
  * The anti-pattern this removes: an operator like ivfPqTopK that refits
  * its codebooks inside the serving query re-pays the whole Lloyd
  * iteration — the part that scans the full corpus — on every top-k
  * batch. At 10^9 vectors the fit dominates serving by orders of
  * magnitude. The correct lifecycle is the one every ANN system ships:
  * fit ONCE into a durable artifact (here: plain parquet directories —
  * readable by any engine, partition-parallel, no custom format), then
  * serve any number of query batches from the loaded artifact. Because
  * every fit in this library is bit-deterministic (md5 seeds, decimal
  * means, fixed tie-breaks), a rebuilt artifact is byte-identical to the
  * original — loading is purely a cost optimization, never a semantics
  * change, which is what lets a served query share its oracle with the
  * refitting form.
  *
  * [[save]]/[[load]]/[[rewrite]] work on any Hadoop-visible path (local
  * fs in tests, HDFS/object store at scale). [[ensureBuilt]] is the
  * in-JVM memoization the bench/verify harness uses: first caller builds
  * into a fresh temp dir, every later caller (and bench rep) serves from
  * it — exactly the build-once/serve-many shape, without any risk of a
  * stale artifact outliving the JVM's dataset.
  */
object Models {

  /** Persist one model table by plain overwrite: Spark deletes `dir`
    * before the write job runs, so a failed save leaves no table. For
    * builds (a failed build re-runs from its inputs); an in-place
    * replacement of a live artifact goes through [[rewrite]]. */
  def save(df: DataFrame, dir: String): Unit =
    df.write.mode("overwrite").parquet(dir)

  /** Generation ledger: each artifact build/append stamps one batch_id
    * row under `$dir/gens` — the lifecycle metadata the dataset card's
    * freshness section reads ([[genStats]]): how many file-set
    * generations a serving scan pays for (the compaction-cadence signal)
    * and which ingest batch the artifact last saw (the staleness
    * signal). The stamp is WRITE-ONLY — one append job, no read: gen
    * ordinals are never stored, [[genStats]] derives the generation
    * count at read time as count(DISTINCT batch_id). That read-time
    * distinct also makes the ledger REPLAY-SAFE: a streaming micro-batch
    * re-run after a crash-before-checkpoint re-stamps the same batch_id
    * and folds to one generation, so the freshness metadata matches the
    * at-least-once data appends instead of overcounting them.
    * Contract: builds stamp `batchId = -1` ("fitted, no stream position
    * seen"); every append must pass a real non-negative id (streaming
    * folds pass the micro-batch id, batch callers a sequence number) —
    * micro-batch ids start at 0, which is why builds may not use it.
    * Single-writer per artifact is assumed, as for the data appends
    * themselves: two concurrent appenders are only distinguishable by
    * their batch_ids, and the distinct-count makes an accidental id
    * collision benign (one generation miscounted, never a crash). */
  def logGen(spark: SparkSession, dir: String, batchId: Long,
      fresh: Boolean = false): Unit = {
    import spark.implicits._
    val row = Seq(batchId).toDF("batch_id")
    if (fresh) save(row, s"$dir/gens") else append(row, s"$dir/gens")
  }

  /** Fold the ledger after a compaction: the artifact is ONE generation
    * again, but the last-seen batch id is preserved (compaction changes
    * layout, not content) — the max() is the rewrite itself, one job. */
  def resetGens(spark: SparkSession, dir: String): Unit =
    rewrite(spark, s"$dir/gens")(_.agg(coalesce(max(col("batch_id")),
      lit(-1L)).as("batch_id")))

  /** The freshness row the card reads: generation count + last batch id.
    * count(DISTINCT batch_id), not count(*): replayed micro-batches fold
    * (see [[logGen]]'s replay contract). */
  def genStats(spark: SparkSession, dir: String): DataFrame =
    load(spark, s"$dir/gens").agg(
      countDistinct(col("batch_id")).as("n_generations"),
      max(col("batch_id")).as("last_batch_id"))

  private val SwapAsideSuffix = "__swap_old"

  /** Generation swap: replace the live artifact directory with a freshly
    * written one. Parquet cannot overwrite a directory that is also
    * being read, so maintenance passes ([[rewrite]]) write a NEW
    * directory from the old one and swap — the pattern a real table
    * format wraps in a metadata commit. The swap is RENAME-ASIDE
    * (live → live__swap_old, tmp → live, delete __swap_old), never
    * delete-then-rename: compaction now runs unattended inside streaming
    * foreachBatch loops, and a crash in a delete-first window would
    * leave NO live directory — the replayed batch's mode-append then
    * silently recreates it and the index serves near-empty results. With
    * rename-aside every crash window is recoverable from what's on disk:
    *  - crash before the first rename: nothing changed;
    *  - crash between the renames: live is missing but __swap_old holds
    *    the full pre-swap artifact — [[healSwap]] renames it back
    *    (the compaction rewrite is lost, which is layout-only and safe);
    *  - crash after the second rename: live is the new generation and
    *    __swap_old is stale residue — [[healSwap]] deletes it.
    * Healing MUTATES the path, so only WRITE paths run it
    * ([[append]]/[[appendPartitioned]]/[[swapIn]] — all covered by the
    * single-writer assumption). [[load]] is strictly read-only: a reader
    * that healed would race the live writer inside this very window
    * (rename the aside back between the two renames → the writer's
    * second rename fails on local fs, or nests tmp inside the restored
    * live dir under HDFS rename-into-existing semantics). A reader that
    * lands in the window instead FALLS BACK to scanning the aside
    * directory — the full pre-swap artifact — without touching it. */
  def swapIn(spark: SparkSession, tmpDir: String, liveDir: String): Unit = {
    val live = new org.apache.hadoop.fs.Path(liveDir)
    val tmp = new org.apache.hadoop.fs.Path(tmpDir)
    val fs = live.getFileSystem(spark.sparkContext.hadoopConfiguration)
    heal(fs, live) // clear residue from a previously crashed swap first
    val aside = new org.apache.hadoop.fs.Path(liveDir + SwapAsideSuffix)
    if (fs.exists(live))
      require(fs.rename(live, aside),
        s"generation swap failed renaming aside: $liveDir")
    require(fs.rename(tmp, live),
      s"generation swap failed: $tmpDir -> $liveDir")
    fs.delete(aside, true)
  }

  /** Replace the artifact table at `path` with `f` of its current
    * contents — the one in-place rewrite every compaction runs. The new
    * table is written to `path__compacting` while `path` keeps serving,
    * then [[swapIn]] makes it live: a failed write leaves the live table
    * untouched, where an overwrite of `path` would already have deleted
    * it. `partitionBy` keeps a [[savePartitioned]] layout. */
  def rewrite(spark: SparkSession, path: String, partitionBy: String*)(
      f: DataFrame => DataFrame): Unit = {
    val tmp = path + "__compacting"
    f(load(spark, path)).write.mode("overwrite")
      .partitionBy(partitionBy: _*).parquet(tmp)
    swapIn(spark, tmp, path)
  }

  /** Recover `liveDir` from a [[swapIn]] interrupted mid-swap (see the
    * crash-window table there). Idempotent and cheap when there is
    * nothing to do: one fs.exists on the __swap_old marker. */
  def healSwap(spark: SparkSession, liveDir: String): Unit = {
    val live = new org.apache.hadoop.fs.Path(liveDir)
    heal(live.getFileSystem(spark.sparkContext.hadoopConfiguration), live)
  }

  private def heal(fs: org.apache.hadoop.fs.FileSystem,
      live: org.apache.hadoop.fs.Path): Unit = {
    val aside = new org.apache.hadoop.fs.Path(live.toString + SwapAsideSuffix)
    if (fs.exists(aside)) {
      if (fs.exists(live)) fs.delete(aside, true) // crashed after rename 2
      else require(fs.rename(aside, live), // crashed between the renames
        s"swap recovery failed: $aside -> $live")
    }
  }

  /** Append a delta to an existing artifact table — the growth path of
    * every incrementally maintained artifact: dedup index and Bloom
    * positions (read through multiplicity-blind anti/semi joins), BM25
    * postings and stats, CMS cells, agg partials, DSIR counts and the
    * HLL cube (partials folded at serve), sample candidates (deduped and
    * re-ranked at serve), the join view and CC labels/merges. A fitted
    * model (centroids, codebooks, BPE merges) must never be appended —
    * rebuild and [[save]] instead. Heals a crashed swap first: appending
    * into a directory a dead compaction left missing would otherwise
    * recreate it near-empty. */
  def append(df: DataFrame, dir: String): Unit = {
    healSwap(df.sparkSession, dir)
    df.write.mode("append").parquet(dir)
  }

  /** Persist with Hive-style directory partitioning on `cols` — for
    * artifact tables whose serving access pattern is an equi join or
    * filter on those columns (the IVF inverted lists): a probe then
    * reads ONLY the probed partitions' files (static pushdown for
    * literal filters, dynamic partition pruning for broadcast joins)
    * instead of scanning the corpus-sized table. */
  def savePartitioned(df: DataFrame, dir: String, cols: String*): Unit =
    df.write.mode("overwrite").partitionBy(cols: _*).parquet(dir)

  /** [[append]] for a [[savePartitioned]] artifact — deltas land inside
    * the matching partition directories, so pruning holds across append
    * generations. Heals a crashed swap first (see [[append]]). */
  def appendPartitioned(df: DataFrame, dir: String, cols: String*): Unit = {
    healSwap(df.sparkSession, dir)
    df.write.mode("append").partitionBy(cols: _*).parquet(dir)
  }

  /** Read the artifact WITHOUT mutating the path. If a crashed (or
    * in-flight) [[swapIn]] left live missing with the __swap_old aside
    * present, serve the aside in place — it holds the complete pre-swap
    * generation. The actual repair (renaming the aside back) is left to
    * the next WRITE on the path: letting readers rename would race a
    * live writer inside the swap window (see [[swapIn]]). A reader that
    * picked the aside can still lose files mid-scan if the writer's
    * cleanup delete lands first — the same exposure any non-transactional
    * directory swap has for in-flight reads of the OLD generation, and
    * why maintenance cadence, not correctness, bounds swap frequency. */
  def load(spark: SparkSession, dir: String): DataFrame = {
    val live = new Path(dir)
    val fs = live.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val aside = new Path(dir + SwapAsideSuffix)
    val src = if (!fs.exists(live) && fs.exists(aside)) aside else live
    spark.read.parquet(src.toString)
  }

  private val built = new ConcurrentHashMap[String, String]()

  /** Build-once-per-JVM: the first call for `key` runs `build` against a
    * fresh temp directory and returns it; later calls return the same
    * directory without building. Keyed per (operator, dataset, params) by
    * the caller. Temp-dir scoped so an artifact can never outlive the JVM
    * and serve a different dataset generation. */
  def ensureBuilt(key: String)(build: String => Unit): String =
    built.computeIfAbsent(key, _ => {
      val dir = java.nio.file.Files.createTempDirectory("graft_model_")
        .toString
      build(dir)
      dir
    })
}
