package graft.ops

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.storage.StorageLevel

/** Self-contained cache lifecycle for the operators that pin tables by
  * contract (pageRank's result, kmeansFit's final centroids, the MinHash
  * signature tables, pqFit's subspace table, connectedComponents' label
  * checkpoint, ...). Pins is the one materialisation owner: operators cache
  * with [[cache]], truncate lineage with [[checkpoint]], step an iterative
  * loop with [[advance]] and free early with [[release]] — no operator
  * calls `cache`/`persist`/`localCheckpoint`/`unpersist` itself
  * (CacheHygieneSpec's source guard), so everything an operator
  * materialises is registered here. A library consumer calls
  * [[releaseAll]] after consuming results — e.g. once per loop
  * iteration — and accumulates nothing, with
  * no need for the harness-level `clearCache` sweep (which would also
  * clobber the consumer's OWN cached tables).
  *
  * Releasing is always safe: unpersisting a cached DataFrame means
  * recompute-on-next-use, never wrong data. The one exception is a
  * localCheckpoint — its lineage is truncated, so a released checkpoint
  * cannot recompute; release results only AFTER consuming them (the same
  * contract the Bench/Verify per-query clearState enforces).
  *
  * Checkpoints go through [[checkpoint]]: it takes the RDD from the
  * `LogicalRDD` leaf of the checkpointed Dataset's own plan and pins
  * exactly that RDD, so releasing it never touches a cache the
  * checkpoint's job happened to build upstream (the caller's, or another
  * operator's pin), nor a checkpoint another thread created meanwhile. A
  * loop that supersedes a checkpoint frees it early with [[release]].
  *
  * Pins is ONE JVM-wide ledger, so [[releaseAll]] from an async callback
  * (a streaming foreachBatch thread, a parallel query runner) would release
  * pins belonging to OTHER concurrently running operators — forcing silent
  * recompute of their cached tables and, for checkpoint pins, failing their
  * job outright. Callbacks use [[scoped]] instead: it releases exactly the
  * pins the current thread created inside the block, never a concurrent
  * operator's. Driver-side operator code runs on the calling thread, so
  * thread identity is the correct ownership boundary.
  *
  * The ledger self-prunes: tracking a new pin drops entries that are no
  * longer materialized (operators release superseded pins internally as
  * they loop), so the ledger stays proportional to LIVE pins even if a
  * consumer never calls [[releaseAll]].
  */
object Pins {

  /** A cached DataFrame (`rdd == null`) or a checkpoint's own RDD. */
  private final class Pin(val df: DataFrame, val rdd: RDD[_],
      val thread: Long, val seq: Long) {
    def live: Boolean =
      if (rdd == null) df.storageLevel != StorageLevel.NONE
      else rdd.getStorageLevel != StorageLevel.NONE
    def free(): Unit =
      if (rdd == null) df.unpersist(blocking = false)
      else rdd.unpersist(blocking = false)
  }

  private val pins = scala.collection.mutable.ArrayBuffer.empty[Pin]
  private var seqCounter = 0L

  private def add(df: DataFrame, rdd: RDD[_]): Unit = synchronized {
    pins.filterInPlace(_.live)
    seqCounter += 1
    pins += new Pin(df, rdd, Thread.currentThread().getId, seqCounter)
  }

  /** `df.cache()`, registered; returns it for chaining. */
  def cache(df: DataFrame): DataFrame = {
    add(df.cache(), null)
    df
  }

  /** `df.localCheckpoint(eager)`, with the checkpoint's RDD pinned. */
  def checkpoint(df: DataFrame, eager: Boolean = true): DataFrame = {
    val cp = df.localCheckpoint(eager)
    add(cp, checkpointRdd(cp))
    cp
  }

  /** Free a [[cache]] or [[checkpoint]] result now (a loop superseding
    * it). A DataFrame the ledger no longer holds is left alone. */
  def release(df: DataFrame): Unit = freeWhere(_.df eq df)

  /** One iterate of a materialise-and-supersede loop: cache `next` and
    * count it, then release `prev` (null before the first iterate), so
    * the loop holds one materialised iterate at a time. */
  def advance(prev: DataFrame, next: DataFrame): DataFrame = {
    cache(next).count()
    if (prev != null) release(prev)
    next
  }

  private def checkpointRdd(cp: DataFrame): RDD[_] =
    cp.queryExecution.logical match {
      case r: LogicalRDD => r.rdd
      case p => throw new IllegalArgumentException(
        s"not a checkpoint: plan root is ${p.nodeName}")
    }

  /** Tracked pins that are still materialized (cached DataFrames at a
    * non-NONE storage level plus live checkpoint RDDs). */
  def liveCount: Int = synchronized(pins.count(_.live))

  /** Release every pin any graft operator still holds. Single-threaded
    * consumers only — from a concurrent callback use [[scoped]]. */
  def releaseAll(): Unit = synchronized {
    pins.foreach(_.free())
    pins.clear()
  }

  /** Run `body`, then release exactly the pins the CURRENT thread created
    * inside it — pins registered by concurrent operators on other threads
    * are untouched. This is the release path for async callbacks (e.g. a
    * streaming foreachBatch): consume the results inside the block (write
    * the sink, collect the counts), because released checkpoint pins
    * cannot recompute afterwards. */
  def scoped[T](body: => T): T = {
    val tid = Thread.currentThread().getId
    val mark = synchronized(seqCounter)
    try body
    finally releaseSince(mark, tid)
  }

  /** Release pins created after `mark` by thread `tid`; keep the rest. */
  private def releaseSince(mark: Long, tid: Long): Unit =
    freeWhere(p => p.seq > mark && p.thread == tid)

  private def freeWhere(mine: Pin => Boolean): Unit = synchronized {
    pins.filterInPlace { p =>
      val m = mine(p)
      if (m) p.free()
      !m
    }
  }
}
