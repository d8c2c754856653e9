package graft.expr

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.FunctionRegistry
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

/** Session extension registering the engine's custom expressions as SQL
  * functions, so `spark.sql` users get them alongside the built-ins:
  *
  *   SparkSession.builder().withExtensions(new GraftExtensions) ...
  *   // or: --conf spark.sql.extensions=graft.expr.GraftExtensions
  *
  *   SELECT shingle_hashes(text, 3),
  *          minhash_signature(shingle_hashes(text, 3), 64),
  *          jaccard_sorted(a, b)
  *
  * This is the (c) extension path from the build contract — injection via
  * SparkSessionExtensions rather than session-local temp functions, so the
  * functions exist in every session created with the extension.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {


  override def apply(ext: SparkSessionExtensions): Unit = {
    GraftExtensions.functions.foreach(ext.injectFunction)
    // the composable->kernel rewrite (see KernelSubstitution): sessions
    // built with the extension optimize the naive cosine fold automatically
    ext.injectOptimizerRule(_ => KernelSubstitution)
  }
}

object GraftExtensions {

  private def info(name: String, usage: String): ExpressionInfo =
    new ExpressionInfo(
      classOf[GraftExtensions].getName, null, name, usage,
      "", "", "", "", "", "", "built-in")

  /** Extract a foldable integral literal argument (INT or BIGINT both
    * accepted — SQL integer literals default to INT but callers may write
    * `3L`/BIGINT) with a clear analysis-time error otherwise. */
  private def intArg(fn: String, arg: String, e: Expression): Int = {
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.sql.types.{ByteType, IntegerType, LongType, ShortType}
    e match {
      case Literal(v: Number, ByteType | ShortType | IntegerType | LongType) =>
        v.intValue()
      case other if other.foldable =>
        other.eval() match {
          case v: Number => v.intValue()
          case _ => throw new IllegalArgumentException(
            s"$fn: argument '$arg' must be an integral literal, got ${other.sql}")
        }
      case other => throw new IllegalArgumentException(
        s"$fn: argument '$arg' must be a foldable integral literal, got ${other.sql}")
    }
  }

  /** The function set, shared by extension injection and direct session
    * registration. */
  val functions: Seq[(FunctionIdentifier, ExpressionInfo, FunctionRegistry.FunctionBuilder)] = Seq(
    (FunctionIdentifier("shingle_hashes"),
      info("shingle_hashes",
        "shingle_hashes(text, n) - sorted distinct xxhash64 hashes of word n-gram shingles"),
      (args: Seq[Expression]) => args match {
        case Seq(text) => ShingleHashes(text, 3)
        case Seq(text, n) => ShingleHashes(text, intArg("shingle_hashes", "n", n))
        case _ => throw new IllegalArgumentException("shingle_hashes expects (text[, n])")
      }),
    (FunctionIdentifier("shingle_strings"),
      info("shingle_strings",
        "shingle_strings(text, n) - distinct lower-cased word n-gram shingle strings"),
      (args: Seq[Expression]) => args match {
        case Seq(text) => ShingleStrings(text, 3)
        case Seq(text, n) => ShingleStrings(text, intArg("shingle_strings", "n", n))
        case _ => throw new IllegalArgumentException("shingle_strings expects (text[, n])")
      }),
    (FunctionIdentifier("minhash_signature"),
      info("minhash_signature",
        "minhash_signature(hashes[, slots]) - MinHash signature of a hashed-shingle array"),
      (args: Seq[Expression]) => args match {
        case Seq(hs) => MinHashSignature(hs)
        case Seq(hs, slots) => MinHashSignature(hs, intArg("minhash_signature", "slots", slots))
        case _ => throw new IllegalArgumentException("minhash_signature expects (hashes[, slots])")
      }),
    (FunctionIdentifier("jaccard_sorted"),
      info("jaccard_sorted",
        "jaccard_sorted(a, b) - Jaccard similarity of two sorted distinct long arrays"),
      (args: Seq[Expression]) => args match {
        case Seq(a, b) => JaccardSorted(a, b)
        case _ => throw new IllegalArgumentException("jaccard_sorted expects (a, b)")
      }),
    (FunctionIdentifier("cosine_sim"),
      info("cosine_sim",
        "cosine_sim(a, b) - cosine similarity of two float/double vectors"),
      (args: Seq[Expression]) => args match {
        case Seq(a, b) => CosineSim(a, b)
        case _ => throw new IllegalArgumentException("cosine_sim expects (a, b)")
      }),
    (FunctionIdentifier("lsh_buckets"),
      info("lsh_buckets",
        "lsh_buckets(vec, nbits, tables) - multi-table md5-seeded sign-LSH bucket ids"),
      (args: Seq[Expression]) => args match {
        case Seq(v) => Md5LshBuckets(v, 8, 1)
        case Seq(v, nbits) => Md5LshBuckets(v, intArg("lsh_buckets", "nbits", nbits), 1)
        case Seq(v, nbits, tables) => Md5LshBuckets(v,
          intArg("lsh_buckets", "nbits", nbits), intArg("lsh_buckets", "tables", tables))
        case _ => throw new IllegalArgumentException("lsh_buckets expects (vec[, nbits[, tables]])")
      }))

  /** Register into an ALREADY-RUNNING session (extensions only apply at
    * session construction). */
  def register(spark: org.apache.spark.sql.SparkSession): Unit =
    functions.foreach { case (id, inf, builder) =>
      spark.sessionState.functionRegistry.registerFunction(id, inf, builder)
    }
}
