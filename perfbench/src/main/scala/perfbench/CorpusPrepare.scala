package perfbench

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Observation}
import org.apache.spark.sql.functions._

import graft.ops.{Dedup, Pins, Pipeline, TextAnalysis}

/** Batch corpus preparation: repeated `Pipeline.prepareCorpus` calls over
  * a multi-file shard set, each into a noop sink. */
object CorpusPrepare {
  val WarmupReps = 2

  /** (rows, digest) of a prepared-corpus result, gathered by an
    * Observation on the action that consumes it, so checking adds no job. */
  private def observed(df: DataFrame): (DataFrame, Observation) = {
    val obs = Observation()
    (df.observe(obs, count(lit(1)).as("n"),
      bit_xor(xxhash64(col("doc_id"), col("n_ws_tokens"), col("n_bpe_tokens")))
        .as("x")), obs)
  }
  private def digest(obs: Observation): String = {
    val m = obs.get
    s"${m("n")}:${m("x")}"
  }

  private def releaseCaches(c: Ctx): Unit = {
    Pins.releaseAll()
    c.spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(false))
  }

  def run(c: Ctx): Unit = {
    val spark = c.spark
    val docs = spark.read.parquet(s"${c.inputs}/shards")
    val nDocs = docs.count()
    c.result("input_files") = docs.inputFiles.length
    c.result("store_bytes") = Util.dirBytes(s"${c.inputs}/shards")
    c.result("store_rows") = nDocs

    def call(): String = {
      val (out, obs) = observed(Pipeline.prepareCorpus(docs))
      out.write.format("noop").mode("overwrite").save()
      digest(obs)
    }
    val setup = (0 until WarmupReps).map { _ =>
      val r = c.time(call()); releaseCaches(c); r }
    c.result("setup_reps_s") = setup.map(_._2)
    val expected = setup.head._1

    val ops = mutable.ArrayBuffer.empty[Map[String, Any]]
    val heap = new HeapWatch
    val deadline = System.nanoTime() + (c.seconds * 1e9).toLong
    var i = 0
    while (System.nanoTime() < deadline) {
      val (d, wall) = c.time(c.tracer.op(i, "prepare") {
        if (c.tracer.enabled) tracedCall(c, docs) else call()
      })
      c.checked(if (d == expected) None
        else Some(s"prepare call $i: digest $d, first call gave $expected"))
      ops += Map("wall_s" -> wall, "rows" -> nDocs, "calls_ms" -> Seq(wall * 1000))
      heap.afterOp()
      releaseCaches(c)
      i += 1
    }
    c.result("heap") = heap.stop()
    c.result("ops") = ops.toSeq

    // one more call into parquet for the DuckDB oracle check (run.py)
    val (out, obs) = observed(Pipeline.prepareCorpus(docs))
    out.write.mode("overwrite").parquet(s"${c.work}/check_output")
    val d = digest(obs)
    c.checked(if (d == expected) None
      else Some(s"check call: digest $d, timed calls gave $expected"))
    c.result("oracle_sql") = graft.SparkEntry.oracleSql("q_ns_prepare_corpus")
    c.result("check_output") = s"${c.work}/check_output"
    releaseCaches(c)
  }

  /** The traced form materialises each stage of prepareCorpus in turn
    * (gate, exact dedup, MinHash candidates, token counts), so each public
    * stage function gets its own span; the answer must still equal the
    * untraced call's. Composition follows Pipeline.prepareCorpus and
    * Dedup.dedupCorpus with their default knobs. */
  private def tracedCall(c: Ctx, docs: DataFrame): String = {
    val t = c.tracer
    val minJaccard = 0.8
    def stage(name: String, rowsIn: Long)(df: => DataFrame): (DataFrame, Long) =
      t.span(name, "ops") {
        val m = df.localCheckpoint()
        val n = m.count()
        t.count("rows_in", rowsIn.toDouble)
        t.count("rows_out", n.toDouble)
        (m, n)
      }
    val nIn = docs.count()
    val (gated, nGated) = stage("gate", nIn) {
      TextAnalysis.withQuality(TextAnalysis.withLangId(docs))
        .filter(col("predicted_lang") === "en" && col("quality_score") >= 0.8)
        .select(docs.columns.toIndexedSeq.map(col): _*)
    }
    val (kept, nKept) = stage("exact_dedup", nGated) {
      val keep = Dedup.exactGroups(gated).select(col("keep_doc_id").as("doc_id"))
      gated.join(keep, Seq("doc_id"), "left_semi")
    }
    val (cand, nCand) = stage("candidates", nKept) {
      Dedup.minHashCandidates(kept, starCap = Some(256))
    }
    val nHits = cand.filter(col("jaccard") >= minJaccard).count()
    t.span("candidates.yield", "ops") {
      t.count("candidate_pairs", nCand.toDouble)
      t.count("pairs_above_theta", nHits.toDouble)
    }
    val nearDrop = cand.filter(col("jaccard") >= minJaccard)
      .select(greatest(col("doc_a"), col("doc_b")).as("doc_id")).distinct()
    val deduped = kept.join(nearDrop, Seq("doc_id"), "left_anti")
    val (out, _) = stage("token_count", nKept) {
      TextAnalysis.withTokenCounts(deduped).select("doc_id", "n_ws_tokens", "n_bpe_tokens")
    }
    val (o, obs) = observed(out)
    o.write.format("noop").mode("overwrite").save()
    digest(obs)
  }
}
