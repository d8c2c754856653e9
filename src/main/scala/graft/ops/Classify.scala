package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Multinomial Naive Bayes text classification — the classifier-based
  * filtering shape every large pipeline runs somewhere (a supervised
  * quality/language/domain gate in the spirit of CCNet's fastText stage),
  * built on the decimal-ln determinism contract so fit, serve, and the
  * DuckDB oracle agree bit-exactly.
  *
  * Model: class priors ln(n_class / n_docs), add-one-smoothed word
  * log-likelihoods ln((c(class, word) + 1) / (c(class, *) + V)), and a
  * per-class OOV floor ln(1 / (c(class, *) + V)) — every ln rounded to
  * DECIMAL(18,6) at the leaf. Both model tables are bounded by
  * (classes x vocabulary), never the corpus, so they broadcast at any
  * scale; scoring is one word equi join + one per-(doc, class)
  * partial agg + a C-row-per-doc argmax window. */
object Classify {

  private val dec = DecimalType(18, 6)

  private def words(textCol: String): Column =
    filter(split(lower(trim(col(textCol))), "\\s+"), x => x =!= "")

  /** Fit the model: (label, prior, oov) and (label, word, ll) tables. */
  def nbModel(docs: DataFrame, labelCol: String = "lang",
      textCol: String = "text"): (DataFrame, DataFrame) = {
    val docsF = ScaleOps.fanOutCompute(docs)
    val tok = docsF.select(col(labelCol).as("label"),
      explode(words(textCol)).as("word"))
    // class-word counts feed the totals AND the likelihood table — the one
    // relation consumed twice, vocabulary-bounded, so it is what's pinned
    val cw = Pins.cache(tok.groupBy("label", "word").agg(count(lit(1)).as("n")))
    val ct = cw.groupBy("label").agg(sum(col("n")).as("tot"))
    val v = cw.select("word").distinct().agg(count(lit(1)).as("v"))
    val nd = docs.groupBy(col(labelCol).as("label")).agg(count(lit(1)).as("nd"))
    val ndt = docs.agg(count(lit(1)).as("n"))
    val priors = nd.join(broadcast(ndt))
      .join(ct, "label").join(broadcast(v))
      .select(col("label"),
        log(col("nd").cast("double") / col("n")).cast(dec).as("prior"),
        log(lit(1.0) / (col("tot") + col("v")).cast("double")).cast(dec)
          .as("oov"))
    val ll = cw.join(ct, "label").join(broadcast(v))
      .select(col("label"), col("word"),
        log((col("n") + lit(1)).cast("double")
          / (col("tot") + col("v")).cast("double")).cast(dec).as("ll"))
    (priors, ll)
  }

  /** Apply half: per doc, score = prior + Σ present-word log-likelihoods
    * + (OOV count) x class OOV floor; argmax class with a label
    * tie-break. Docs with zero tokens have no score and drop (no words,
    * no evidence). The likelihood join is a plain word equi join (at most
    * |classes| rows per present word); the priors cross is |classes|
    * rows broadcast. */
  def nbClassifyWith(docs: DataFrame, priors: DataFrame, ll: DataFrame,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame =
    nbScoresWith(docs, priors, ll, idCol, textCol)
      .withColumn("rn", row_number().over(
        Window.partitionBy(idCol).orderBy(desc("score"), asc("label"))))
      .filter(col("rn") === 1)
      .select(col(idCol), col("label").as("pred_label"),
        col("score").cast("double").as("score"))

  /** The full per-(doc, label) DECIMAL score table behind
    * [[nbClassifyWith]] — exposed so confidence diagnostics (margins,
    * calibration bins) can rank beyond the argmax. */
  def nbScoresWith(docs: DataFrame, priors: DataFrame, ll: DataFrame,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val docsF = ScaleOps.fanOutCompute(docs.select(col(idCol), col(textCol)),
      idCol)
    val w = docsF.select(col(idCol), explode(words(textCol)).as("word"))
    val nw = w.groupBy(idCol).agg(count(lit(1)).as("n_words"))
    // broadcast: ll is (classes x vocabulary)-bounded — kilobytes here,
    // megabytes at 100 TB — but it reaches this join as a multi-stage
    // aggregate whose size ESTIMATE exceeds the auto threshold, so the
    // planner was shuffling the corpus-sized token table into a sort-merge
    // join (guide §3.1: hint when you know a side is small). Contract:
    // the model must be fit on a bounded labeled sample — an unbounded
    // vocabulary x classes table would outgrow the broadcast cap.
    val present = w.join(broadcast(ll), "word")
      .groupBy(col(idCol), col("label"))
      .agg(sum(col("ll")).as("sum_ll"), count(lit(1)).as("n_present"))
    nw.join(broadcast(priors))
      .join(present, Seq(idCol, "label"), "left")
      .select(col(idCol), col("label"),
        (col("prior") + coalesce(col("sum_ll"), lit(0).cast(dec))
          + (col("n_words") - coalesce(col("n_present"), lit(0L)))
            * col("oov")).as("score"))
  }

  /** Fit-and-classify: the model fits on the "nbfit"-salted half (a real
    * held-out evaluation — the other half is never seen by the fit), and
    * every doc gets a prediction. */
  def nbClassify(docs: DataFrame, labelCol: String = "lang",
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val (priors, ll) = nbModel(
      docs.filter(Sampling.saltedBucket("nbfit", col(idCol)) < 50),
      labelCol, textCol)
    nbClassifyWith(docs, priors, ll, idCol, textCol)
  }

  /** Persist the fitted model (parquet: priors + likelihoods subdirs).
    * Deterministic fit ⇒ byte-identical rebuild, so served predictions
    * share the fit form's oracle. */
  def nbBuild(docs: DataFrame, dir: String, labelCol: String = "lang",
      idCol: String = "doc_id", textCol: String = "text"): Unit =
    Pins.scoped {
      val (priors, ll) = nbModel(
        docs.filter(Sampling.saltedBucket("nbfit", col(idCol)) < 50),
        labelCol, textCol)
      Models.save(docs.sparkSession, dir)(
        _.write("priors", priors).write("likelihoods", ll))
    }

  /** Classify against a PERSISTED model — zero fitting at predict time. */
  def nbServe(spark: org.apache.spark.sql.SparkSession, dir: String,
      docs: DataFrame, idCol: String = "doc_id", textCol: String = "text")
      : DataFrame =
    nbClassifyWith(docs,
      Models.load(spark, dir, "priors"),
      Models.load(spark, dir, "likelihoods"), idCol, textCol)
}
