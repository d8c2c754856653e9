package perfbench

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions.col

import graft.expr.{ArrayExprs, Md5MinHashSig, Md5ShingleHashes, ShingleHashes, ShingleStrings}

/** Kernel rates for the `expr` layer: each custom Catalyst kernel runs
  * through its public Column API over a fixed in-memory batch of generated
  * texts (the same batch in every run), into a noop sink. */
object Kernels {
  val Rows = 20000
  val Reps = 3

  private val Vocab = ("a agg batch big column customer data fast filter group hash " +
    "join key line merge order part query row scan slow small sort spark stream " +
    "table the value vector window").split(" ")

  def run(c: Ctx): Map[String, Double] = {
    val spark = c.spark
    import spark.implicits._
    val rnd = new java.util.Random(7L)
    val texts = (0 until Rows).map { i =>
      (i.toLong, Seq.fill(10 + rnd.nextInt(91))(Vocab(rnd.nextInt(Vocab.length))).mkString(" "))
    }
    val docs = texts.toDF("doc_id", "text").repartition(c.cores).cache()
    val hashed = docs.select(col("doc_id"),
        ShingleHashes.shingleHashes(col("text"), 3).as("hs"),
        ShingleStrings.shingleStrings(col("text"), 3).as("s"))
      .cache()
    val pairs = hashed.select(col("doc_id"), col("hs").as("a"))
      .join(hashed.select((col("doc_id") + 1).as("doc_id"), col("hs").as("b")), "doc_id")
      .cache()
    Seq(docs, hashed, pairs).foreach(_.count())

    def rate(input: DataFrame, kernel: Column): Double = {
      val n = input.count()
      val walls = (0 until Reps).map { _ =>
        val t0 = System.nanoTime()
        input.select(kernel).write.format("noop").mode("overwrite").save()
        (System.nanoTime() - t0) / 1e9
      }
      n / Util.median(walls)
    }
    val rates = c.tracer.span("kernels", "expr") {
      Map(
        "expr.shingle_hashes_rows_per_s" ->
          rate(docs, ShingleHashes.shingleHashes(col("text"), 3)),
        "expr.minhash_signature_rows_per_s" ->
          rate(hashed, ArrayExprs.minhashSignature(col("hs"))),
        "expr.jaccard_sorted_rows_per_s" ->
          rate(pairs, ArrayExprs.jaccardSorted(col("a"), col("b"))),
        "expr.md5_shingle_hashes_rows_per_s" ->
          rate(docs, Md5ShingleHashes.md5ShingleHashes(col("text"), 3)),
        "expr.md5_minhash_sig_rows_per_s" ->
          rate(hashed, Md5MinHashSig.minHashSig(col("s"))))
    }
    Seq(pairs, hashed, docs).foreach(_.unpersist(true))
    rates
  }
}
