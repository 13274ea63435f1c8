package graft.functions

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, DataType, IntegerType, LongType}

/** Native expressions for the dedup hot loops. The higher-order-function
  * formulations (`transform` + `aggregate` + `array_intersect`) evaluate
  * one interpreted lambda call per element; at 24M+ element-ops per
  * stage they dominated the sf0.1 bench. These replace them with tight
  * primitive loops (40× on the minhash stage).
  */
object MinHashConstants {
  val K = 32
  val Prime = 2038074743L
  // fixed affine constants — deterministic, seed-free
  val As: Array[Long] = (1 to K).map(i => 2654435761L * i % Prime).toArray
  val Bs: Array[Long] = (1 to K).map(i => 40503L * i.toLong * i % Prime).toArray
}

/** array<long> of raw 64-bit hashes → array<long> of K minhash values:
  * sig_j = min over elements h of ((h mod P) * A_j + B_j) mod P. */
case class LongArrayMinHash(child: Expression)
    extends UnaryExpression {

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(LongType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"minhash_sig expects array<bigint>, got ${other.simpleString}")
  }

  override def nullSafeEval(v: Any): Any =
    HashKernels.minhashSig(v.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, x =>
      s"${ev.value} = graft.functions.HashKernels.minhashSig($x);")

  override protected def withNewChildInternal(c: Expression): LongArrayMinHash =
    copy(child = c)
}

/** array<long> of token hashes → 64-bit SimHash (affine mod-P vote per
  * bit — see HashKernels.simhashP; signature bit set iff the vote sum
  * is non-negative). */
case class SimHashP(child: Expression)
    extends UnaryExpression {

  override def dataType: DataType = LongType

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(LongType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"simhash_p expects array<bigint>, got ${other.simpleString}")
  }

  override def nullSafeEval(v: Any): Any =
    java.lang.Long.valueOf(HashKernels.simhashP(v.asInstanceOf[ArrayData]))

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, x =>
      s"${ev.value} = graft.functions.HashKernels.simhashP($x);")

  override protected def withNewChildInternal(c: Expression): SimHashP =
    copy(child = c)
}

/** string → fused document SimHash (tokenize + distinct + strHashP +
  * affine votes in one pass; see HashKernels.simhashText). */
case class SimHashText(child: Expression) extends UnaryExpression {
  import org.apache.spark.unsafe.types.UTF8String

  override def dataType: DataType = LongType

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case org.apache.spark.sql.types.StringType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"simhash_text expects string, got ${other.simpleString}")
  }

  override def nullSafeEval(v: Any): Any =
    java.lang.Long.valueOf(HashKernels.simhashText(v.asInstanceOf[UTF8String]))

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, x =>
      s"${ev.value} = graft.functions.HashKernels.simhashText($x);")

  override protected def withNewChildInternal(c: Expression): SimHashText =
    copy(child = c)
}

/** string → deterministic polynomial hash mod P over code points (see
  * HashKernels.strHashP). The portable replacement for xxhash64 in
  * every dedup path: the DuckDB oracle computes the identical value
  * with BIGINT list_reduce arithmetic. */
case class StrHashP(child: Expression) extends UnaryExpression {
  import org.apache.spark.unsafe.types.UTF8String

  override def dataType: DataType = LongType

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case org.apache.spark.sql.types.StringType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"str_hash_p expects string, got ${other.simpleString}")
  }

  override def nullSafeEval(v: Any): Any =
    java.lang.Long.valueOf(HashKernels.strHashP(v.asInstanceOf[UTF8String]))

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, x =>
      s"${ev.value} = graft.functions.HashKernels.strHashP($x);")

  override protected def withNewChildInternal(c: Expression): StrHashP =
    copy(child = c)
}

/** Intersection cardinality of two SORTED array<long> columns (sorted,
  * distinct — callers sort once per row, pairs then merge in O(n+m)). */
case class SortedLongIntersectCount(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = IntegerType

  override def checkInputDataTypes(): TypeCheckResult = {
    val ok = Seq(left, right).forall(_.dataType match {
      case ArrayType(LongType, _) => true
      case _ => false
    })
    if (ok) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"sorted_intersect_count expects two array<bigint> args")
  }

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    var i = 0; var j = 0; var c = 0
    val n = x.numElements(); val m = y.numElements()
    while (i < n && j < m) {
      val xv = x.getLong(i); val yv = y.getLong(j)
      if (xv == yv) { c += 1; i += 1; j += 1 }
      else if (xv < yv) i += 1
      else j += 1
    }
    c
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (x, y) => {
      val i = ctx.freshName("i"); val j = ctx.freshName("j")
      val c = ctx.freshName("c"); val n = ctx.freshName("n")
      val m = ctx.freshName("m"); val xv = ctx.freshName("xv")
      val yv = ctx.freshName("yv")
      s"""
         |int $i = 0, $j = 0, $c = 0;
         |int $n = $x.numElements(), $m = $y.numElements();
         |while ($i < $n && $j < $m) {
         |  long $xv = $x.getLong($i); long $yv = $y.getLong($j);
         |  if ($xv == $yv) { $c++; $i++; $j++; }
         |  else if ($xv < $yv) $i++; else $j++;
         |}
         |${ev.value} = $c;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      l: Expression, r: Expression): SortedLongIntersectCount =
    copy(left = l, right = r)
}

/** string → sorted distinct xxhash64 values of its 3-token shingles, in
  * one pass (tokenize, roll, hash, dedupe, sort). Exists because the
  * composed form (`split` + nested `transform` + `array_distinct` +
  * `array_sort`) is (a) interpreted per element and (b) duplicated
  * wholesale by CollapseProject/filter-inference — the sf0.1 profile
  * showed the regex split evaluated ~30× per document. One expression
  * evaluates cheaply even when the optimizer clones it. */
case class ShingleHashes(child: Expression)
    extends UnaryExpression {
  import org.apache.spark.unsafe.types.UTF8String

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case org.apache.spark.sql.types.StringType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"shingle_hashes expects string, got ${other.simpleString}")
  }

  override def nullSafeEval(v: Any): Any =
    HashKernels.shingleHashes(v.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, x =>
      s"${ev.value} = graft.functions.HashKernels.shingleHashes($x);")

  override protected def withNewChildInternal(c: Expression): ShingleHashes =
    copy(child = c)
}

/** string → array of lowercased alphanumeric word tokens (the D1
  * tokenizer as one native pass; see HashKernels.tokenizeWords). */
case class TokenizeWords(child: Expression) extends UnaryExpression {
  import org.apache.spark.unsafe.types.UTF8String

  override def dataType: DataType =
    ArrayType(org.apache.spark.sql.types.StringType, containsNull = false)

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case org.apache.spark.sql.types.StringType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"tokenize_words expects string, got ${other.simpleString}")
  }

  override def nullSafeEval(v: Any): Any =
    HashKernels.tokenizeWords(v.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, x =>
      s"${ev.value} = graft.functions.HashKernels.tokenizeWords($x);")

  override protected def withNewChildInternal(c: Expression): TokenizeWords =
    copy(child = c)
}

/** Word n-grams of the whitespace tokenization in one native pass (the
  * `split(trim(text), "\\s+")` semantics the quality/decontamination
  * oracles replay; see HashKernels.wordNGrams for why the HOF
  * formulation is quadratic under Generate). */
case class WordNGrams(child: Expression, n: Int) extends UnaryExpression {
  import org.apache.spark.unsafe.types.UTF8String

  require(n >= 1, s"word_ngrams n must be >= 1, got $n")

  override def dataType: DataType =
    ArrayType(org.apache.spark.sql.types.StringType, containsNull = false)

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case org.apache.spark.sql.types.StringType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"word_ngrams expects string, got ${other.simpleString}")
  }

  override def nullSafeEval(v: Any): Any =
    HashKernels.wordNGrams(v.asInstanceOf[UTF8String], n)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, x =>
      s"${ev.value} = graft.functions.HashKernels.wordNGrams($x, $n);")

  override protected def withNewChildInternal(c: Expression): WordNGrams =
    copy(child = c)
}

/** Highest multiplicity among the document's word n-grams in one
  * linear pass (see HashKernels.topGramCount — the O(tokens)
  * replacement for the quadratic nested-HOF top-gram scan). */
case class TopGramCount(child: Expression, n: Int) extends UnaryExpression {
  import org.apache.spark.unsafe.types.UTF8String

  require(n >= 1, s"top_gram_count n must be >= 1, got $n")

  override def dataType: DataType = IntegerType

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case org.apache.spark.sql.types.StringType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"top_gram_count expects string, got ${other.simpleString}")
  }

  override def nullSafeEval(v: Any): Any =
    HashKernels.topGramCount(v.asInstanceOf[UTF8String], n)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, x =>
      s"${ev.value} = graft.functions.HashKernels.topGramCount($x, $n);")

  override protected def withNewChildInternal(c: Expression): TopGramCount =
    copy(child = c)
}

/** string → sorted distinct winnowing fingerprints (rolling-hash
  * character k-grams, window minima). See HashKernels.winnow. */
case class WinnowFingerprints(child: Expression, k: Int, w: Int)
    extends UnaryExpression {
  import org.apache.spark.unsafe.types.UTF8String

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case org.apache.spark.sql.types.StringType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"winnow_fingerprints expects string, got ${other.simpleString}")
  }

  override def nullSafeEval(v: Any): Any =
    HashKernels.winnow(v.asInstanceOf[UTF8String], k, w)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, x =>
      s"${ev.value} = graft.functions.HashKernels.winnow($x, $k, $w);")

  override protected def withNewChildInternal(c: Expression): WinnowFingerprints =
    copy(child = c)
}

/** Bloom-filter membership probe: `bloom_might_contain(bloom, key, k)`
  * over a binary sketch built by [[Aggregators.BloomAgg]]. mBits is
  * carried by the sketch length (8·bytes), so the only geometry arg is
  * the hash count k. Codegen'd — safe in the hot path of a runtime
  * semi-join filter. */
case class BloomMightContain(left: Expression, right: Expression, k: Int)
    extends BinaryExpression {

  override def dataType: DataType = org.apache.spark.sql.types.BooleanType

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case _ if k < 1 || k > 64 => TypeCheckResult.TypeCheckFailure(
        s"bloom_might_contain k must be in [1, 64], got $k" +
          " (k <= 0 would accept every key)")
      case (org.apache.spark.sql.types.BinaryType, LongType) =>
        TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        s"bloom_might_contain expects (binary, bigint), got $other")
    }

  override def nullSafeEval(b: Any, x: Any): Any =
    HashKernels.bloomMightContain(
      b.asInstanceOf[Array[Byte]], x.asInstanceOf[Long], k)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (b, x) =>
      s"${ev.value} = graft.functions.HashKernels.bloomMightContain($b, $x, $k);")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): BloomMightContain =
    copy(left = newLeft, right = newRight)
}

object HashFunctions {
  val WinnowK = 8
  val WinnowW = 4

  def register(spark: SparkSession): Unit =
    NativeFunctions.register(spark, NativeFunctions.hash)

  /** Foldable integer arg of a function call (int or long literal),
    * with an analysis-time error instead of a ClassCastException. */
  private[graft] def intLit(e: Expression): Int = e.eval() match {
    case i: Int => i
    case l: Long => l.toInt
    case other => throw new IllegalArgumentException(
      s"expected an integer literal, got $other")
  }

  def bloomMightContain(bloom: Column, key: Column, k: Int): Column =
    call_function("bloom_might_contain", bloom, key, lit(k))

  def tokenizeWords(text: Column): Column = call_function("tokenize_words", text)

  def wordNGrams(text: Column, n: Int): Column =
    call_function("word_ngrams", text, lit(n))

  def topGramCount(text: Column, n: Int): Column =
    call_function("top_gram_count", text, lit(n))

  def winnowFingerprints(text: Column): Column =
    call_function("winnow_fingerprints", text)

  def simhashP(tokenHashes: Column): Column =
    call_function("simhash_p", tokenHashes)

  def strHashP(s: Column): Column = call_function("str_hash_p", s)

  def simhashText(text: Column): Column = call_function("simhash_text", text)

  /** DuckDB fragment computing strHashP of the string expression `v`
    * (a column or any scalar string expression). */
  def strHashPSql(v: String): String = {
    import PolyHashConstants.{B, P}
    s"list_reduce(list_prepend(CAST(0 AS BIGINT), " +
      s"list_transform(range(1, length($v)+1), i -> CAST(unicode($v[i]) AS BIGINT))), " +
      s"(h, c) -> (h * $B + c) % $P)"
  }

  /** Sorted distinct 3-shingle hash set of a text column (one-pass
    * native expression; see ShingleHashes). */
  def shingleHashes(text: Column): Column = call_function("shingle_hashes", text)

  def minhashSig(hashes: Column): Column = call_function("minhash_sig", hashes)

  def sortedIntersectCount(a: Column, b: Column): Column =
    call_function("sorted_intersect_count", a, b)

  /** Sorted distinct strHashP of an array of strings, built purely from
    * Spark built-ins (an aggregate-fold over code points) — the
    * independent twin KernelSpec pins the native kernels against. */
  def sortedHashSet(strings: Column): Column = {
    import PolyHashConstants.{B, P}
    val hashed = transform(strings, s =>
      when(length(s) === 0, lit(0L)).otherwise(
        aggregate(sequence(lit(1), length(s)), lit(0L),
          (h, i) => (h * lit(B) + ascii(substr(s, i, lit(1)))) % lit(P))))
    array_sort(array_distinct(hashed))
  }
}
