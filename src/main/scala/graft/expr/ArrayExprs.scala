package graft.expr

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression, XXH64}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graftbridge.{columnToExpr, exprToColumn}
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, LongType}

/** Jaccard similarity of two SORTED long arrays via a single merge walk —
  * no per-row hash-set allocation (the built-in
  * array_intersect/array_union pair costs ~100µs/row interpreted; this is
  * ~1µs). Inputs must be sorted ascending and distinct (ShingleHashes
  * guarantees both). Whole-stage-codegen'd via a static kernel call.
  */
case class JaccardSorted(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = DoubleType
  override def prettyName: String = "jaccard_sorted"

  override def checkInputDataTypes(): TypeCheckResult = {
    // element nullability is accepted either way: a parquet round-trip of
    // a containsNull=false array reads back annotated containsNull=true
    // (the persisted dedup-index hs tables) with no actual nulls — the
    // values are ShingleHashes outputs, non-null by construction
    def ok(t: DataType): Boolean = t match {
      case ArrayType(LongType, _) => true
      case _ => false
    }
    if (ok(left.dataType) && ok(right.dataType)) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"jaccard_sorted requires array<long> inputs, got ${left.dataType}, ${right.dataType}")
  }

  override def nullSafeEval(l: Any, r: Any): Any =
    JaccardSorted.compute(l.asInstanceOf[ArrayData], r.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) =>
      s"${ev.value} = graft.expr.JaccardSorted.compute($a, $b);")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): JaccardSorted =
    copy(left = newLeft, right = newRight)
}

object JaccardSorted {
  /** Static merge-walk kernel shared by interpreted eval and codegen. */
  def compute(l: ArrayData, r: ArrayData): Double = {
    val a = l.toLongArray()
    val b = r.toLongArray()
    var i = 0
    var j = 0
    var inter = 0
    while (i < a.length && j < b.length) {
      if (a(i) == b(j)) { inter += 1; i += 1; j += 1 }
      else if (a(i) < b(j)) i += 1
      else j += 1
    }
    val union = a.length + b.length - inter
    if (union == 0) 0.0 else inter.toDouble / union
  }
}

/** 64-slot MinHash signature of a hashed-shingle array in one compiled
  * pass: slot j = min over shingle hashes h of XXH64(h, seed = j). The
  * built-in nested-lambda form re-enters the interpreted expression
  * evaluator 64×|shingles| times per row. Whole-stage-codegen'd via a
  * static kernel call.
  *
  * No operator runs it: MinHash dedup runs the md5-seeded
  * [[Md5MinHashSig]] (graft.ops.Neutral). It stays only because the
  * benchmark harness (perfbench Kernels) measures it as a kernel rate,
  * and the `minhash_signature` SQL function exposes it.
  */
case class MinHashSignature(child: Expression, slots: Int = 64)
    extends UnaryExpression {

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "minhash_signature"

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == ArrayType(LongType, containsNull = false)) {
      TypeCheckResult.TypeCheckSuccess
    } else {
      TypeCheckResult.TypeCheckFailure(
        s"minhash_signature requires array<long> input, got ${child.dataType}")
    }

  override def nullSafeEval(input: Any): Any =
    MinHashSignature.compute(input.asInstanceOf[ArrayData], slots)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.expr.MinHashSignature.compute($c, $slots);")

  override protected def withNewChildInternal(newChild: Expression): MinHashSignature =
    copy(child = newChild)
}

object MinHashSignature {
  /** Static signature kernel shared by interpreted eval and codegen. */
  def compute(input: ArrayData, slots: Int): ArrayData = {
    val hs = input.toLongArray()
    val sig = new Array[Long](slots)
    var j = 0
    while (j < slots) {
      var m = Long.MaxValue
      var i = 0
      while (i < hs.length) {
        val h = XXH64.hashLong(hs(i), j.toLong)
        if (h < m) m = h
        i += 1
      }
      sig(j) = m
      j += 1
    }
    new GenericArrayData(sig)
  }
}

/** Occurrence count of an exact token phrase in a token array: positions i
  * with ws[i..i+L-1] == phrase, in one compiled walk. The composable form —
  * `size(filter(sequence(1, n-L+1), i -> element_at(ws,i)=w1 AND ...))` —
  * allocates the position array and re-enters the interpreted lambda
  * evaluator per position (HigherOrderFunctions are CodegenFallback);
  * measured ~3.5 s for the sf0.1 phrase query vs sub-second here. Null
  * array elements never match (the lambda's null-equality yields null,
  * which filter drops — same outcome). Returns 0 when the array is shorter
  * than the phrase.
  */
case class PhraseCount(child: Expression, phrase: Seq[String])
    extends UnaryExpression {

  require(phrase.nonEmpty, "phrase must be non-empty")

  override def dataType: DataType = LongType
  override def prettyName: String = "phrase_count"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(org.apache.spark.sql.types.StringType, _) =>
      TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"phrase_count requires array<string>, got $t")
  }

  @transient private lazy val words: Array[org.apache.spark.unsafe.types.UTF8String] =
    phrase.map(org.apache.spark.unsafe.types.UTF8String.fromString).toArray

  override def nullSafeEval(input: Any): Any =
    PhraseCount.compute(input.asInstanceOf[ArrayData], words)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("phraseWords", words,
      "org.apache.spark.unsafe.types.UTF8String[]")
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.expr.PhraseCount.compute($c, $ref);")
  }

  override protected def withNewChildInternal(newChild: Expression): PhraseCount =
    copy(child = newChild)
}

object PhraseCount {
  def compute(arr: ArrayData,
      words: Array[org.apache.spark.unsafe.types.UTF8String]): Long = {
    val n = arr.numElements()
    val l = words.length
    var count = 0L
    var i = 0
    val last = n - l
    while (i <= last) {
      var j = 0
      var ok = true
      while (ok && j < l) {
        if (arr.isNullAt(i + j) || !words(j).equals(arr.getUTF8String(i + j)))
          ok = false
        j += 1
      }
      if (ok) count += 1
      i += 1
    }
    count
  }
}

object ArrayExprs {
  def jaccardSorted(a: Column, b: Column): Column =
    exprToColumn(JaccardSorted(columnToExpr(a), columnToExpr(b)))

  def minhashSignature(hs: Column, slots: Int = 64): Column =
    exprToColumn(MinHashSignature(columnToExpr(hs), slots))

  def phraseCount(ws: Column, phrase: Seq[String]): Column =
    exprToColumn(PhraseCount(columnToExpr(ws), phrase))
}
