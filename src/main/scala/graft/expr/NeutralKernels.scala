package graft.expr

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graftbridge.{columnToExpr, exprToColumn}
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

import graft.ops.Neutral

/** Compiled kernels for the md5-seeded (engine-neutral) dedup/ANN pipelines
  * in [[graft.ops.Neutral]]. The composable built-in forms — 64 separate
  * `array_min(transform(hv, ...))` lanes, 32 `aggregate(zip_with(...))`
  * sign-projection dots — pay the interpreted lambda evaluator per element
  * per lane; measured ~3.5 s / ~2.6 s per bench query at sf0.1. These
  * kernels run the same arithmetic in tight loops (one md5 per shingle, 64
  * multiply-adds per lane; one fused dot loop per hyperplane) and are
  * bit-compatible with the built-in compositions BY CONSTRUCTION — the md5
  * bytes, the mod-P affine lanes, and the left-to-right double
  * accumulation are identical operations in the same order
  * (NeutralSpec asserts equality on real data). Both participate in
  * whole-stage codegen via `doGenCode`.
  */
object NeutralKernels {

  private val md5Local =
    ThreadLocal.withInitial[java.security.MessageDigest](() =>
      java.security.MessageDigest.getInstance("MD5"))

  /** First 4 md5 bytes of `s` as an unsigned 32-bit value in a long —
    * exactly `CAST('0x' || substring(md5(s), 1, 8) AS BIGINT)`. */
  private def md5Head(s: UTF8String): Long = {
    val d = md5Local.get()
    d.reset()
    d.update(s.getBytes)
    val b = d.digest()
    ((b(0) & 0xffL) << 24) | ((b(1) & 0xffL) << 16) |
      ((b(2) & 0xffL) << 8) | (b(3) & 0xffL)
  }

  private val laneA: Array[Long] = Neutral.laneConsts.map(_._1).toArray
  private val laneB: Array[Long] = Neutral.laneConsts.map(_._2).toArray

  /** 64-lane md5-seeded MinHash signature of a shingle-string array. */
  def minHashSigCompute(arr: ArrayData): ArrayData = {
    val n = arr.numElements()
    if (n == 0) return null
    val mins = Array.fill[Long](64)(Long.MaxValue)
    var i = 0
    while (i < n) {
      val h = md5Head(arr.getUTF8String(i)) % Neutral.P
      var j = 0
      while (j < 64) {
        val v = (laneA(j) * h + laneB(j)) % Neutral.P
        if (v < mins(j)) mins(j) = v
        j += 1
      }
      i += 1
    }
    new GenericArrayData(mins)
  }

  /** Sign tables per (tables, nbits): row (t * nbits + b) holds the
    * lshMaxDim Rademacher components of hyperplane (t, b). */
  private val signCache =
    new java.util.concurrent.ConcurrentHashMap[(Int, Int), Array[Array[Double]]]()

  private def signs(nbits: Int, tables: Int): Array[Array[Double]] =
    signCache.computeIfAbsent((tables, nbits), _ =>
      Array.tabulate(tables * nbits) { r =>
        val t = r / nbits
        val b = r % nbits
        Array.tabulate(Neutral.lshMaxDim)(pos => Neutral.lshSign(t, b, pos))
      })

  /** md5-seeded sign-LSH buckets (one long per table). `isFloat` selects
    * the element accessor; accumulation is (((0.0 + s0*x0) + s1*x1) + ...)
    * — the identical IEEE operation sequence as
    * `aggregate(zip_with(signs, v, (s, x) -> s * double(x)), 0.0d, +)`.
    * Null when the vector contains a null element: the accessor would
    * read it as 0.0, and a bucket from a zero-filled vector would silently
    * collide with unrelated vectors. */
  def lshBucketsCompute(arr: ArrayData, isFloat: Boolean, nbits: Int,
      tables: Int): ArrayData = {
    val dim = arr.numElements()
    require(dim <= Neutral.lshMaxDim,
      s"embedding dim $dim exceeds the precomputed sign table (${Neutral.lshMaxDim})")
    val v = new Array[Double](dim)
    var i = 0
    while (i < dim) {
      if (arr.isNullAt(i)) return null
      v(i) = if (isFloat) arr.getFloat(i).toDouble else arr.getDouble(i)
      i += 1
    }
    val sg = signs(nbits, tables)
    val out = new Array[Long](tables)
    var t = 0
    while (t < tables) {
      var bucket = 0L
      var b = 0
      while (b < nbits) {
        val row = sg(t * nbits + b)
        var dot = 0.0
        var k = 0
        while (k < dim) { dot += row(k) * v(k); k += 1 }
        if (dot >= 0) bucket |= (1L << b)
        b += 1
      }
      out(t) = bucket
      t += 1
    }
    new GenericArrayData(out)
  }

  /** md5-prefix hash of one string — exposed for the shingle-hash kernel
    * below (exactly `conv(substring(md5(s), 1, 8), 16, 10)` as a long). */
  private[expr] def md5Head8(s: UTF8String): Long = md5Head(s)
}

/** Text → md5-prefix hashes (first 4 md5 bytes as an unsigned-32 long) of
  * its DISTINCT lower-cased word n-gram shingles — the compiled twin of
  *   `explode(shingle_strings(text, n)) |>
  *      conv(substring(md5(g), 1, 8), 16, 10) :: long`.
  * The composable form materializes every shingle string into an output
  * array, explodes it, md5s it to 32 hex chars, and parses 8 back out; this
  * hashes each shingle inside the tokenization loop and emits longs only.
  * Per-doc dedup is on the shingle STRING (as in ShingleStrings), so the
  * multiset of emitted hashes is identical — consumers that dedup on the
  * hash downstream (kmvSourceOverlap's cross-doc distinct) see the same
  * set either way. Output order = first occurrence (ShingleStrings order).
  * Null in → null out; fewer than n words → empty array. */
case class Md5ShingleHashes(child: Expression, n: Int)
    extends UnaryExpression {

  require(n >= 1, "shingle width must be >= 1")

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"md5_shingle_hashes requires a string input, got $t")
  }

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "md5_shingle_hashes"

  override def nullSafeEval(input: Any): Any =
    Md5ShingleHashes.compute(input.asInstanceOf[UTF8String], n)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.expr.Md5ShingleHashes.compute($c, $n);")

  override protected def withNewChildInternal(newChild: Expression): Md5ShingleHashes =
    copy(child = newChild)
}

object Md5ShingleHashes {
  def md5ShingleHashes(c: Column, n: Int): Column =
    exprToColumn(Md5ShingleHashes(columnToExpr(c), n))

  /** Static single-pass kernel: tokenization identical to
    * [[ShingleStrings.compute]] (trim, Locale.ROOT lowercase, \s+ split),
    * dedup on the shingle string, md5-prefix per distinct shingle. */
  def compute(input: UTF8String, n: Int): ArrayData = {
    val text = input.toString
    val words = text.trim.toLowerCase(java.util.Locale.ROOT).split("\\s+")
    if (words.length < n || (words.length == 1 && words(0).isEmpty)) {
      return new GenericArrayData(Array.empty[Long])
    }
    val seen = new java.util.LinkedHashSet[String]()
    val sb = new java.lang.StringBuilder(64)
    var i = 0
    while (i + n <= words.length) {
      sb.setLength(0)
      var k = 0
      while (k < n) {
        if (k > 0) sb.append(' ')
        sb.append(words(i + k))
        k += 1
      }
      seen.add(sb.toString)
      i += 1
    }
    val out = new Array[Long](seen.size)
    val it = seen.iterator()
    var j = 0
    while (it.hasNext) {
      out(j) = NeutralKernels.md5Head8(UTF8String.fromString(it.next()))
      j += 1
    }
    new GenericArrayData(out)
  }
}

/** Token array → one 16-byte md5 digest per k-gram position (array<binary>)
  * — the compiled, binary-keyed twin of
  *   `transform(sequence(0, n-k), i -> md5(array_join(slice(w, i+1, k), ' ')))`.
  * The composable form pays the interpreted lambda evaluator per position,
  * allocates a slice array + joined string + 32-char hex string per gram;
  * this walks the token array once with a reusable StringBuilder and emits
  * raw digests. DIGEST BYTES, not hex: hex(out[i]) equals the built-in
  * md5()'s lowercase hex exactly (ExprSpec), and downstream group/join keys
  * shuffle 16 bytes instead of 32 chars (guide §2.3 — narrower types).
  * Null elements render as concat_ws/array_join semantics (skipped). */
case class GramDigests(child: Expression, k: Int) extends UnaryExpression {

  require(k >= 1, "gram width must be >= 1")

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"gram_digests requires array<string>, got $t")
  }

  override def dataType: DataType =
    ArrayType(org.apache.spark.sql.types.BinaryType, containsNull = false)
  override def prettyName: String = "gram_digests"

  override def nullSafeEval(input: Any): Any =
    GramDigests.compute(input.asInstanceOf[ArrayData], k)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.expr.GramDigests.compute($c, $k);")

  override protected def withNewChildInternal(newChild: Expression): GramDigests =
    copy(child = newChild)
}

object GramDigests {
  def gramDigests(c: Column, k: Int): Column =
    exprToColumn(GramDigests(columnToExpr(c), k))

  private val md5Local =
    ThreadLocal.withInitial[java.security.MessageDigest](() =>
      java.security.MessageDigest.getInstance("MD5"))

  def compute(arr: ArrayData, k: Int): ArrayData = {
    val n = arr.numElements()
    if (n < k) return new GenericArrayData(Array.empty[Any])
    val out = new Array[Any](n - k + 1)
    val sb = new java.lang.StringBuilder(64)
    val d = md5Local.get()
    var i = 0
    while (i + k <= n) {
      sb.setLength(0)
      var j = 0
      var first = true
      while (j < k) {
        if (!arr.isNullAt(i + j)) {
          if (!first) sb.append(' ')
          sb.append(arr.getUTF8String(i + j).toString)
          first = false
        }
        j += 1
      }
      d.reset()
      d.update(UTF8String.fromString(sb.toString).getBytes)
      out(i) = d.digest()
      i += 1
    }
    new GenericArrayData(out)
  }
}

/** Token array → content-defined-chunking boundary positions (array<int>)
  * — the compiled twin of
  *   `filter(sequence(2, n-1), i ->
  *      conv(substring(md5(concat_ws(' ', ws[i-1], ws[i])), 1, 8), 16, 10)
  *        % divisor = 0)`  (empty below 3 tokens).
  * The composable form re-enters the interpreted lambda evaluator per token
  * position and round-trips every bigram hash through 32 hex chars; this
  * walks the array once, hashing each adjacent bigram straight to the
  * md5-prefix long. Null elements follow concat_ws semantics (skipped). */
case class CdcBoundaries(child: Expression, divisor: Int)
    extends UnaryExpression {

  require(divisor >= 1, "divisor must be >= 1")

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"cdc_boundaries requires array<string>, got $t")
  }

  override def dataType: DataType =
    ArrayType(org.apache.spark.sql.types.IntegerType, containsNull = false)
  override def prettyName: String = "cdc_boundaries"

  override def nullSafeEval(input: Any): Any =
    CdcBoundaries.compute(input.asInstanceOf[ArrayData], divisor)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.expr.CdcBoundaries.compute($c, $divisor);")

  override protected def withNewChildInternal(newChild: Expression): CdcBoundaries =
    copy(child = newChild)
}

object CdcBoundaries {
  def cdcBoundaries(c: Column, divisor: Int): Column =
    exprToColumn(CdcBoundaries(columnToExpr(c), divisor))

  def compute(arr: ArrayData, divisor: Int): ArrayData = {
    val n = arr.numElements()
    if (n < 3) return new GenericArrayData(Array.empty[Int])
    val out = new java.util.ArrayList[Integer](8)
    val sb = new java.lang.StringBuilder(48)
    var i = 2 // 1-based boundary position in [2, n-1]
    while (i <= n - 1) {
      sb.setLength(0)
      val aNull = arr.isNullAt(i - 2)
      val bNull = arr.isNullAt(i - 1)
      if (!aNull) sb.append(arr.getUTF8String(i - 2).toString)
      if (!aNull && !bNull) sb.append(' ')
      if (!bNull) sb.append(arr.getUTF8String(i - 1).toString)
      val hv = NeutralKernels.md5Head8(UTF8String.fromString(sb.toString))
      if (hv % divisor == 0) out.add(i)
      i += 1
    }
    val res = new Array[Int](out.size)
    var j = 0
    while (j < res.length) { res(j) = out.get(j); j += 1 }
    new GenericArrayData(res)
  }
}

/** (lowered, trimmed) text → DSIR hashed-gram bucket ids (array<long>),
  * one element per unigram+bigram occurrence, unigram block first — the
  * compiled twin of
  *   `explode(concat(ws, zip_with(slice(ws,1,n-1), slice(ws,2,n-1),
  *      (a,b) -> concat(a,' ',b)))) |> conv(substring(md5('dsir:'||gram),1,4),16,10) % B`.
  * That form re-enters the interpreted lambda evaluator per bigram and
  * materializes a 32-char hex string per gram only to parse 4 chars back
  * out; this computes `(d[0]<<8 | d[1]) % B` straight off the digest —
  * identical values (the first 4 hex chars ARE the first 2 md5 bytes).
  * Like [[TrigramLang]], lower(trim(...)) stays OUTSIDE as builtins so
  * SQL trim/lower semantics are Spark's own; the split here is the same
  * Java regex split ("\\s+", limit -1, empties dropped) the built-in
  * split+filter performs. Null in → null out (explode drops it, as it
  * dropped the null grams array). */
case class DsirGramBuckets(child: Expression, numBuckets: Int)
    extends UnaryExpression {

  // any B >= 1 is exact (the mod arithmetic mirrors the conv-based form
  // bit-for-bit); divisors of 2^16 additionally give uniform buckets, but
  // that is a modeling preference, not a correctness constraint
  require(numBuckets >= 1, "numBuckets must be >= 1")

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"dsir_gram_buckets requires a string input, got $t")
  }

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "dsir_gram_buckets"

  override def nullSafeEval(input: Any): Any =
    DsirGramBuckets.compute(input.asInstanceOf[UTF8String], numBuckets)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.expr.DsirGramBuckets.compute($c, $numBuckets);")

  override protected def withNewChildInternal(newChild: Expression): DsirGramBuckets =
    copy(child = newChild)
}

object DsirGramBuckets {
  def dsirGramBuckets(c: Column, numBuckets: Int): Column =
    exprToColumn(DsirGramBuckets(columnToExpr(c), numBuckets))

  private val md5Local =
    ThreadLocal.withInitial[java.security.MessageDigest](() =>
      java.security.MessageDigest.getInstance("MD5"))

  private val ws = java.util.regex.Pattern.compile("\\s+")
  private val prefix = "dsir:".getBytes(java.nio.charset.StandardCharsets.UTF_8)
  private val space = ' '.toByte

  private def bucketOf(md: java.security.MessageDigest, g1: Array[Byte],
      g2: Array[Byte], numBuckets: Int): Long = {
    md.reset()
    md.update(prefix)
    md.update(g1)
    if (g2 != null) { md.update(space); md.update(g2) }
    val d = md.digest()
    (((d(0) & 0xffL) << 8) | (d(1) & 0xffL)) % numBuckets
  }

  def compute(input: UTF8String, numBuckets: Int): ArrayData = {
    // same split the built-in runs: Java regex "\s+", limit -1, then the
    // x <> '' filter
    val toks = ws.split(input.toString, -1)
    var nWords = 0
    val words = new Array[Array[Byte]](toks.length)
    var i = 0
    while (i < toks.length) {
      if (toks(i).nonEmpty) {
        words(nWords) = toks(i).getBytes(java.nio.charset.StandardCharsets.UTF_8)
        nWords += 1
      }
      i += 1
    }
    val nBi = if (nWords >= 2) nWords - 1 else 0
    val out = new Array[Long](nWords + nBi)
    val md = md5Local.get()
    i = 0
    while (i < nWords) {
      out(i) = bucketOf(md, words(i), null, numBuckets)
      i += 1
    }
    i = 0
    while (i < nBi) {
      out(nWords + i) = bucketOf(md, words(i), words(i + 1), numBuckets)
      i += 1
    }
    new GenericArrayData(out)
  }
}

/** (lowered, trimmed) text → word-list statistics in ONE compiled token
  * walk: element 1 = token count of the raw whitespace split (empties
  * included — `size(split(s,'\\s+'))` semantics), element 2 = Σ token
  * code-point lengths (`aggregate(transform(split, length), 0, +)`), and
  * element 2+i = occurrences of tokens contained in `lists(i-1)`
  * (`size(filter(split, x in (...)))`). The composable forms re-enter the
  * interpreted lambda evaluator once per token PER CONSUMER — the
  * language gate alone ran four separate filter lambdas over the same
  * split. Same Java-regex split as the built-in; membership is exact
  * string equality like IN. Null in → null out (each consumer's
  * size/aggregate over a null split is null too). */
case class WordListStats(child: Expression, lists: Seq[Seq[String]])
    extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"word_list_stats requires a string input, got $t")
  }

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "word_list_stats"

  @transient private lazy val sets: Array[java.util.HashSet[String]] =
    lists.map { l =>
      val s = new java.util.HashSet[String]()
      l.foreach(s.add)
      s
    }.toArray

  override def nullSafeEval(input: Any): Any =
    WordListStats.compute(input.asInstanceOf[UTF8String], sets)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("markerSets", sets,
      "java.util.HashSet[]")
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.expr.WordListStats.compute($c, $ref);")
  }

  override protected def withNewChildInternal(newChild: Expression): WordListStats =
    copy(child = newChild)
}

object WordListStats {
  def wordListStats(c: Column, lists: Seq[Seq[String]]): Column =
    exprToColumn(WordListStats(columnToExpr(c), lists))

  private val ws = java.util.regex.Pattern.compile("\\s+")

  def compute(input: UTF8String,
      sets: Array[java.util.HashSet[String]]): ArrayData = {
    val toks = ws.split(input.toString, -1)
    val out = new Array[Long](2 + sets.length)
    out(0) = toks.length.toLong
    var i = 0
    while (i < toks.length) {
      val t = toks(i)
      out(1) += t.codePointCount(0, t.length).toLong
      var j = 0
      while (j < sets.length) {
        if (sets(j).contains(t)) out(2 + j) += 1
        j += 1
      }
      i += 1
    }
    new GenericArrayData(out)
  }
}

/** array<string> shingles → 64-lane md5-MinHash signature (array<long>);
  * null on an empty shingle set (mirrors array_min-over-empty). */
case class Md5MinHashSig(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"md5_minhash_sig requires array<string>, got $t")
  }

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = true
  override def prettyName: String = "md5_minhash_sig"

  override def nullSafeEval(input: Any): Any =
    NeutralKernels.minHashSigCompute(input.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => s"""
      ${ev.value} = graft.expr.NeutralKernels.minHashSigCompute($c);
      ${ev.isNull} = ${ev.value} == null;""")

  override protected def withNewChildInternal(newChild: Expression): Md5MinHashSig =
    copy(child = newChild)
}

object Md5MinHashSig {
  def minHashSig(c: Column): Column = exprToColumn(Md5MinHashSig(columnToExpr(c)))
}

/** array<float|double> embedding → `tables` md5-sign-LSH buckets
  * (array<long>, `nbits` bits each). */
case class Md5LshBuckets(child: Expression, nbits: Int, tables: Int)
    extends UnaryExpression {

  require(nbits >= 1 && nbits <= 62 && tables >= 1, "bad lsh shape")

  private lazy val isFloat = child.dataType match {
    case ArrayType(FloatType, _) => true
    case _ => false
  }

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(FloatType, _) | ArrayType(DoubleType, _) =>
      TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"md5_lsh_buckets requires array<float|double>, got $t")
  }

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "md5_lsh_buckets"
  // null-element vectors come out null (see lshBucketsCompute)
  override def nullable: Boolean = true

  override def nullSafeEval(input: Any): Any =
    NeutralKernels.lshBucketsCompute(
      input.asInstanceOf[ArrayData], isFloat, nbits, tables)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"""${ev.value} = graft.expr.NeutralKernels.lshBucketsCompute($c, $isFloat, $nbits, $tables);
         |if (${ev.value} == null) { ${ev.isNull} = true; }""".stripMargin)

  override protected def withNewChildInternal(newChild: Expression): Md5LshBuckets =
    copy(child = newChild)
}

object Md5LshBuckets {
  def lshBuckets(c: Column, nbits: Int, tables: Int): Column =
    exprToColumn(Md5LshBuckets(columnToExpr(c), nbits, tables))
}

/** text → sorted distinct md5 winnowing fingerprint (MOSS selection over
  * md5 char-k-gram hex hashes, window w), or null for texts shorter than
  * k characters — the compiled twin of the
  * `array_sort(array_distinct(transform(..., j -> array_min(...))))`
  * expression form, which recomputes each gram's md5 once per covering
  * window (w times) through interpreted lambdas: measured 78 s for the
  * full corpus pass at sf0.1 vs ~0.5 s here. Character indexing is code-
  * point based, matching SQL substring; hex strings are ASCII so Java
  * string order == UTF8 binary order for both the window min and the
  * final sort. */
case class Md5Winnow(child: Expression, k: Int, w: Int) extends UnaryExpression {

  require(k >= 1 && w >= 1, "gram and window sizes must be >= 1")

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"md5_winnow requires a string input, got ${child.dataType}")

  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def nullable: Boolean = true
  override def prettyName: String = "md5_winnow"

  override def nullSafeEval(input: Any): Any =
    Md5Winnow.compute(input.asInstanceOf[UTF8String], k, w)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => s"""
      ${ev.value} = graft.expr.Md5Winnow.compute($c, $k, $w);
      ${ev.isNull} = ${ev.value} == null;""")

  override protected def withNewChildInternal(newChild: Expression): Md5Winnow =
    copy(child = newChild)
}

object Md5Winnow {
  def md5Winnow(c: Column, k: Int, w: Int): Column =
    exprToColumn(Md5Winnow(columnToExpr(c), k, w))

  private val md5Local =
    ThreadLocal.withInitial[java.security.MessageDigest](() =>
      java.security.MessageDigest.getInstance("MD5"))

  private val HEX = "0123456789abcdef".toCharArray

  def compute(input: UTF8String, k: Int, w: Int): ArrayData = {
    val text = input.toString
    val numChars = text.codePointCount(0, text.length)
    if (numChars < k) return null
    val nGrams = numChars - k + 1
    // UTF-16 offset of each code point (SQL substring counts code points)
    val offsets = new Array[Int](numChars + 1)
    var idx = 0
    var cp = 0
    while (cp < numChars) {
      offsets(cp) = idx
      idx = text.offsetByCodePoints(idx, 1)
      cp += 1
    }
    offsets(numChars) = text.length
    val md = md5Local.get()
    val hex = new Array[String](nGrams)
    var i = 0
    while (i < nGrams) {
      md.reset()
      md.update(text.substring(offsets(i), offsets(i + k))
        .getBytes(java.nio.charset.StandardCharsets.UTF_8))
      val d = md.digest()
      val sb = new Array[Char](32)
      var b = 0
      while (b < 16) {
        sb(b * 2) = HEX((d(b) >> 4) & 0xf)
        sb(b * 2 + 1) = HEX(d(b) & 0xf)
        b += 1
      }
      hex(i) = new String(sb)
      i += 1
    }
    // one window min per start position (at least one window even when
    // fewer than w grams exist — mirrors greatest(nGrams - w + 1, 1))
    val nWin = math.max(nGrams - w + 1, 1)
    val seen = new java.util.TreeSet[String]()
    var j = 0
    while (j < nWin) {
      var m = hex(j)
      var t = j + 1
      val end = math.min(j + w, nGrams)
      while (t < end) {
        if (hex(t).compareTo(m) < 0) m = hex(t)
        t += 1
      }
      seen.add(m)
      j += 1
    }
    val out = new Array[Any](seen.size)
    val it = seen.iterator()
    var o = 0
    while (it.hasNext) { out(o) = UTF8String.fromString(it.next()); o += 1 }
    new GenericArrayData(out)
  }
}
