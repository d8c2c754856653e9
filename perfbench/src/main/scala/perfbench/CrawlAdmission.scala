package perfbench

import scala.collection.mutable

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col

import graft.ops.{Neutral, Pins}

/** Served crawl admission with index maintenance: the index is built on a
  * base slice, then each batch is admitted (`Neutral.ingestE2eServed`),
  * cut from its lineage, and appended (`Neutral.dedupIndexAppend`);
  * `Neutral.dedupIndexCompact` runs every `compactEvery` batches and after
  * the last one. A pass over all batches starts from a fresh index build;
  * passes repeat until the time budget is spent. */
object CrawlAdmission {
  val MinJaccard = 0.8

  val BuildReps = 3
  /** Warm-up pass sizes (docs): base slice and one batch. */
  val WarmupBase = 400
  val WarmupBatch = 200

  def run(c: Ctx): Unit = {
    val spark = c.spark
    val plan = scala.io.Source.fromFile(s"${c.inputs}/batches.txt").getLines()
      .map(_.trim).filter(_.nonEmpty).toSeq
    val baseEnd = plan.head.toLong
    val compactEvery = plan(1).toInt
    val batches = plan.drop(2).map(_.split(",").map(_.toLong)).map(a => (a(0), a(1)))
    val docs = spark.read.parquet(s"${c.inputs}/documents")
    def slice(lo: Long, hi: Long) = docs.filter(col("doc_id") >= lo && col("doc_id") < hi)

    /** Admit one batch: ingest, lineage cut, append. Returns the admitted
      * rows (checkpointed) and the op's wall seconds. */
    def admit(dir: String, lo: Long, hi: Long, k: Int, opId: Int): (DataFrame, Double) =
      c.time(c.tracer.op(opId, "batch") {
        val incoming = slice(lo, hi)
        val a = if (c.tracer.enabled) tracedAdmit(c, dir, incoming)
          else Neutral.ingestE2eServed(spark, dir, incoming, minJaccard = MinJaccard)
            .localCheckpoint()
        c.tracer.span("append", "ops.index") {
          Neutral.dedupIndexAppend(a, dir, batchId = k.toLong)
        }
        a
      })
    def release(before: Set[Int]): Unit = {
      Pins.releaseAll()
      (spark.sparkContext.getPersistentRDDs.keySet.toSet -- before).foreach { id =>
        spark.sparkContext.getPersistentRDDs.get(id).foreach(_.unpersist(false))
      }
    }
    def compact(dir: String): Double =
      c.time(c.tracer.span("compact", "ops.index")(Neutral.dedupIndexCompact(spark, dir)))._2

    // warm-up (JIT, codegen): a small pass of the same calls, untimed
    val warm = s"${c.work}/index/warmup"
    Neutral.dedupIndexBuild(slice(0, WarmupBase), warm)
    val before0 = spark.sparkContext.getPersistentRDDs.keySet.toSet
    admit(warm, WarmupBase, WarmupBase + WarmupBatch, 0, -1)
    release(before0)
    compact(warm)
    Log("warm-up done")

    val reference = mutable.ArrayBuffer.empty[Seq[Long]]
    val ops = mutable.ArrayBuffer.empty[Map[String, Any]]
    val builds = mutable.ArrayBuffer.empty[Double]
    val maintenance = mutable.ArrayBuffer.empty[Double]
    var pass = 0
    var opId = 0
    var heap: HeapWatch = null
    var deadline = 0L

    // whole passes until the budget is spent; pass 0's answers are the
    // reference the DuckDB oracle checks (run.py), later passes must match
    while (pass == 0 || System.nanoTime() < deadline) {
      // set-up: the base index, built BuildReps times on the first pass
      val dirs = (0 until (if (pass == 0) BuildReps else 1))
        .map(r => s"${c.work}/index/pass_${pass}_$r")
      dirs.foreach { d =>
        builds += c.time(c.tracer.span("build", "ops.index") {
          Neutral.dedupIndexBuild(slice(0, baseEnd), d)
        })._2
      }
      val dir = dirs.last
      if (pass == 0) {
        Log("setup done")
        heap = new HeapWatch
        deadline = System.nanoTime() + (c.seconds * 1e9).toLong
      }
      batches.zipWithIndex.foreach { case ((lo, hi), k) =>
        val before = spark.sparkContext.getPersistentRDDs.keySet.toSet
        val bytes0 = Util.dirBytes(dir)
        val (admitted, wall) = admit(dir, lo, hi, k, opId)
        val appendedBytes = Util.dirBytes(dir) - bytes0
        val ids = admitted.select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
        ops += Map("wall_s" -> wall, "rows" -> (hi - lo), "admitted" -> ids.size,
          "appended_bytes" -> appendedBytes, "calls_ms" -> Seq(wall * 1000))
        heap.afterOp()
        if (pass == 0) reference += ids
        else c.checked(if (ids == reference(k)) None
          else Some(s"pass $pass batch $k: ${ids.size} admitted, pass 0 admitted ${reference(k).size}"))
        opId += 1
        release(before)
        val last = k == batches.size - 1
        if ((k + 1) % compactEvery == 0 || last) {
          if (last) {
            c.result("index_files_pre_compact") = Util.dataFiles(dir).size
            c.result("index_bytes_pre_compact") = Util.dirBytes(dir)
          }
          maintenance += compact(dir)
        }
      }
      c.result("store_bytes") = Util.dirBytes(dir)
      c.result("store_rows") = spark.read.parquet(s"$dir/hs").count()
      pass += 1
    }
    Log(s"loop done: $pass passes")
    c.result("passes") = pass
    c.result("heap") = heap.stop()
    c.result("ops") = ops.toSeq
    c.result("maintenance_s") = maintenance.toSeq
    c.result("setup_reps_s") = builds.take(BuildReps).toSeq

    // DuckDB oracle per batch (run.py): the corpus is the base slice plus
    // every earlier admission, the incoming side is the batch's id range
    val admittedSoFar = mutable.ArrayBuffer.empty[Long]
    c.result("oracle") = batches.zip(reference).map { case ((lo, hi), ids) =>
      val corpus = if (admittedSoFar.isEmpty) s"doc_id < $baseEnd"
        else s"doc_id < $baseEnd OR doc_id IN (${admittedSoFar.mkString(",")})"
      val sql = Neutral.ingestE2eOracleSql(corpus,
        s"doc_id >= $lo AND doc_id < $hi", MinJaccard)
      admittedSoFar ++= ids
      Map("sql" -> sql, "ids" -> ids)
    }
  }

  /** The traced form calls the public stages separately: served admission
    * (`dedupAgainstServed`), then clustered dedup of the admitted docs
    * (`dedupCorpusClustered`, which holds the connected-components loop).
    * Its answer must equal `ingestE2eServed`'s. */
  private def tracedAdmit(c: Ctx, dir: String, incoming: DataFrame): DataFrame = {
    val t = c.tracer
    val admitted = t.span("admit", "ops") {
      val a = Neutral.dedupAgainstServed(c.spark, dir, incoming, minJaccard = MinJaccard)
        .localCheckpoint()
      t.count("rows_in", incoming.count().toDouble)
      t.count("rows_out", a.count().toDouble)
      a
    }
    t.span("cluster_dedup", "ops") {
      val out = Neutral.dedupCorpusClustered(admitted, minJaccard = MinJaccard)
        .localCheckpoint()
      t.count("rows_out", out.count().toDouble)
      out
    }
  }
}
