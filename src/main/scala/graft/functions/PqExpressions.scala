package graft.functions

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Product-quantization primitives [Jégou, Douze, Schmid, "Product
  * Quantization for Nearest Neighbor Search", TPAMI 2011] — the
  * memory/IO-bound ANN scale path: a D-dim float vector (4·D bytes)
  * compresses to M sub-quantizer codes (M bytes at Ks ≤ 256), and query
  * scoring becomes M table lookups (ADC — asymmetric distance
  * computation) instead of D multiplies. At 100 TB the win is the scan:
  * an ADC pass reads the code column (M + 8 bytes/row) instead of the
  * embedding column (4·D + 8), a 16-32× byte-rate cut BEFORE any
  * pruning, and the per-query LUT (M × Ks doubles) rides a broadcast.
  *
  * All four expressions are deterministic integer/IEEE arithmetic with
  * defined iteration order, so the DuckDB oracle replays them
  * bit-for-bit (see [[PqFunctions.l2KmeansCtes]] and the s6 oracle in
  * operators/SimilarityQueries.scala):
  *
  *  - [[NearestCentroidL2]] — flat argmin_c Σ(x_i - c_i)² (ties → lowest
  *    id): the assignment step of L2 Lloyd training (PQ sub-quantizers
  *    are trained under L2, for which the quantized-mean recentre of
  *    [[graft.api.Similarity]] is the exact minimizer — unlike the
  *    cosine k-means the IVF family uses).
  *  - [[PqEncode]] — one row → M code POSITIONS (argmin L2 per
  *    subspace, positions index the code-id-sorted books array; the
  *    oracle works in code ids, which is the same centroid because both
  *    orderings are ascending-id).
  *  - [[PqLut]] — one QUERY row → per-subspace lookup tables
  *    lut[m][pos] = dot(q_m, c_emb): Σ_m lut[m][code_m] reconstructs
  *    dot(q, decode(codes)) exactly.
  *  - [[PqAdc]] — the M-lookup ordered sum (ascending m, double).
  */
case class NearestCentroidL2(cents: Expression, emb: Expression)
    extends BinaryExpression {

  override def left: Expression = cents
  override def right: Expression = emb

  override def dataType: DataType = StructType(Seq(
    StructField("cent_id", LongType, nullable = false),
    StructField("dist", DoubleType, nullable = false)))

  override def checkInputDataTypes(): TypeCheckResult = {
    val centsOk = cents.dataType match {
      case ArrayType(StructType(fs), _) => fs.length == 2 &&
        fs(0).dataType == LongType &&
        fs(1).dataType.isInstanceOf[ArrayType]
      case _ => false
    }
    val embOk = emb.dataType match {
      case ArrayType(FloatType, _) => true
      case _ => false
    }
    if (centsOk && embOk) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"nearest_centroid_l2 expects (array<struct<long,array<float>>>, " +
        s"array<float>), got (${cents.dataType.simpleString}, " +
        s"${emb.dataType.simpleString})")
  }

  override def nullSafeEval(c: Any, e: Any): Any =
    PqKernels.nearestCentroidL2(c.asInstanceOf[ArrayData], e.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (c, e) =>
      s"${ev.value} = graft.functions.PqKernels.nearestCentroidL2($c, $e);")

  override protected def withNewChildrenInternal(
      l: Expression, r: Expression): NearestCentroidL2 = copy(cents = l, emb = r)
}

/** Row → M sub-quantizer code positions. `books` =
  * array<array<struct<code_id, c_emb>>> (subspace-major, each inner
  * array sorted ascending by code_id); subspace width d = len(emb) / M
  * must divide evenly (enforced). */
case class PqEncode(books: Expression, emb: Expression)
    extends BinaryExpression {

  override def left: Expression = books
  override def right: Expression = emb

  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)

  override def checkInputDataTypes(): TypeCheckResult =
    PqKernels.checkBooksAndVec("pq_encode", books.dataType, emb.dataType)

  override def nullSafeEval(b: Any, e: Any): Any =
    PqKernels.pqEncode(b.asInstanceOf[ArrayData], e.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (b, e) =>
      s"${ev.value} = graft.functions.PqKernels.pqEncode($b, $e);")

  override protected def withNewChildrenInternal(
      l: Expression, r: Expression): PqEncode = copy(books = l, emb = r)
}

/** Query row → ADC lookup tables: lut[m][pos] = dot(q_m, books[m][pos].c_emb)
  * (double, ascending-index accumulation — the oracle's list_reduce
  * order). */
case class PqLut(books: Expression, emb: Expression)
    extends BinaryExpression {

  override def left: Expression = books
  override def right: Expression = emb

  override def dataType: DataType =
    ArrayType(ArrayType(DoubleType, containsNull = false), containsNull = false)

  override def checkInputDataTypes(): TypeCheckResult =
    PqKernels.checkBooksAndVec("pq_lut", books.dataType, emb.dataType)

  override def nullSafeEval(b: Any, e: Any): Any =
    PqKernels.pqLut(b.asInstanceOf[ArrayData], e.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (b, e) =>
      s"${ev.value} = graft.functions.PqKernels.pqLut($b, $e);")

  override protected def withNewChildrenInternal(
      l: Expression, r: Expression): PqLut = copy(books = l, emb = r)
}

/** ADC score: Σ_m lut[m][codes[m]], summed ascending m in double —
  * reconstructs dot(q, decode(codes)). */
case class PqAdc(lut: Expression, codes: Expression)
    extends BinaryExpression {

  override def left: Expression = lut
  override def right: Expression = codes

  override def dataType: DataType = DoubleType

  override def checkInputDataTypes(): TypeCheckResult = {
    val lutOk = lut.dataType match {
      case ArrayType(ArrayType(DoubleType, _), _) => true
      case _ => false
    }
    val codesOk = codes.dataType match {
      case ArrayType(IntegerType, _) => true
      case _ => false
    }
    if (lutOk && codesOk) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"pq_adc expects (array<array<double>>, array<int>), got " +
        s"(${lut.dataType.simpleString}, ${codes.dataType.simpleString})")
  }

  override def nullSafeEval(l: Any, c: Any): Any =
    PqKernels.pqAdc(l.asInstanceOf[ArrayData], c.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (l, c) =>
      s"${ev.value} = graft.functions.PqKernels.pqAdc($l, $c);")

  override protected def withNewChildrenInternal(
      l: Expression, r: Expression): PqAdc = copy(lut = l, codes = r)
}

/** Elementwise squared-L2 distance of two float vectors — double
  * accumulation ascending i, the exact arithmetic of
  * [[PqFunctions.l2Sql]] (an expansion via ‖a‖² − 2a·b + ‖b‖² would
  * produce DIFFERENT floats and flip near-ties against the oracle).
  * Used for the query-side top-nProbe coarse-cell probing of IVFADC,
  * where a ranking — not just an argmin — is needed. */
case class FloatVecL2(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = DoubleType

  override def checkInputDataTypes(): TypeCheckResult = {
    val ok = Seq(left, right).forall(_.dataType match {
      case ArrayType(FloatType, _) => true
      case _ => false
    })
    if (ok) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"vec_l2 expects two array<float> args, got " +
        s"(${left.dataType.simpleString}, ${right.dataType.simpleString})")
  }

  override def nullSafeEval(a: Any, b: Any): Any =
    PqKernels.vecL2(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) =>
      s"${ev.value} = graft.functions.PqKernels.vecL2($a, $b);")

  override protected def withNewChildrenInternal(
      l: Expression, r: Expression): FloatVecL2 = copy(left = l, right = r)
}

/** Static kernels (shared by eval and generated code, like
  * [[VectorKernels]]). Iteration orders are part of the oracle
  * contract: L2 accumulates (x-c)² ascending i; argmins keep the FIRST
  * minimum under strict < over ascending-id iteration (= lowest id);
  * ADC sums ascending m. */
object PqKernels {
  import org.apache.spark.sql.catalyst.InternalRow
  import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
  import org.apache.spark.sql.catalyst.util.GenericArrayData

  private[graft] def checkBooksAndVec(fn: String, books: DataType,
      emb: DataType): TypeCheckResult = {
    val booksOk = books match {
      case ArrayType(ArrayType(StructType(fs), _), _) => fs.length == 2 &&
        fs(0).dataType == LongType && fs(1).dataType.isInstanceOf[ArrayType]
      case _ => false
    }
    val embOk = emb match {
      case ArrayType(FloatType, _) => true
      case _ => false
    }
    if (booksOk && embOk) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$fn expects (array<array<struct<long,array<float>>>>, " +
        s"array<float>), got (${books.simpleString}, ${emb.simpleString})")
  }

  def vecL2(a: ArrayData, b: ArrayData): Double = {
    val n = math.min(a.numElements(), b.numElements())
    var acc = 0.0
    var i = 0
    while (i < n) {
      val d = a.getFloat(i).toDouble - b.getFloat(i).toDouble
      acc += d * d
      i += 1
    }
    acc
  }

  /** Σ (x[off+i] - c[i])² in double, ascending i. */
  private def l2(emb: ArrayData, off: Int, cEmb: ArrayData): Double = {
    val d = cEmb.numElements()
    var acc = 0.0
    var i = 0
    while (i < d) {
      val dx = emb.getFloat(off + i).toDouble - cEmb.getFloat(i).toDouble
      acc += dx * dx
      i += 1
    }
    acc
  }

  def nearestCentroidL2(cents: ArrayData, emb: ArrayData): InternalRow = {
    val k = cents.numElements()
    require(k > 0, "nearest_centroid_l2: empty centroid array")
    var bestId = -1L
    var bestDist = Double.PositiveInfinity
    var i = 0
    while (i < k) {
      val ct = cents.getStruct(i, 2)
      val d = l2(emb, 0, ct.getArray(1))
      if (d < bestDist) { bestDist = d; bestId = ct.getLong(0) }
      i += 1
    }
    new GenericInternalRow(Array[Any](bestId, bestDist))
  }

  private def subWidth(books: ArrayData, emb: ArrayData): Int = {
    val m = books.numElements()
    require(m > 0, "pq: empty codebook array")
    val dim = emb.numElements()
    require(dim % m == 0,
      s"pq: vector dim $dim not divisible by $m subspaces")
    dim / m
  }

  def pqEncode(books: ArrayData, emb: ArrayData): ArrayData = {
    val m = books.numElements()
    val d = subWidth(books, emb)
    val out = new Array[Int](m)
    var s = 0
    while (s < m) {
      val codes = books.getArray(s)
      val n = codes.numElements()
      require(n > 0, s"pq_encode: empty codebook for subspace $s")
      var bestPos = -1
      var bestDist = Double.PositiveInfinity
      var j = 0
      while (j < n) {
        val dist = l2(emb, s * d, codes.getStruct(j, 2).getArray(1))
        if (dist < bestDist) { bestDist = dist; bestPos = j }
        j += 1
      }
      out(s) = bestPos
      s += 1
    }
    new GenericArrayData(out)
  }

  def pqLut(books: ArrayData, emb: ArrayData): ArrayData = {
    val m = books.numElements()
    val d = subWidth(books, emb)
    val luts = new Array[Any](m)
    var s = 0
    while (s < m) {
      val codes = books.getArray(s)
      val n = codes.numElements()
      val lut = new Array[Double](n)
      var j = 0
      while (j < n) {
        val cEmb = codes.getStruct(j, 2).getArray(1)
        var acc = 0.0
        var i = 0
        while (i < d) {
          acc += emb.getFloat(s * d + i).toDouble * cEmb.getFloat(i).toDouble
          i += 1
        }
        lut(j) = acc
        j += 1
      }
      luts(s) = new GenericArrayData(lut)
      s += 1
    }
    new GenericArrayData(luts)
  }

  def pqAdc(lut: ArrayData, codes: ArrayData): Double = {
    val m = codes.numElements()
    var acc = 0.0
    var s = 0
    while (s < m) {
      acc += lut.getArray(s).getDouble(codes.getInt(s))
      s += 1
    }
    acc
  }
}

/** Column helpers + session registration + the DuckDB CTE builders that
  * replay L2 Lloyd training (the oracle side of the PQ pipeline). */
object PqFunctions {

  def register(spark: SparkSession): Unit =
    NativeFunctions.register(spark, NativeFunctions.pq)

  def nearestCentroidL2(cents: Column, emb: Column): Column =
    call_function("nearest_centroid_l2", cents, emb)
  def pqEncode(books: Column, emb: Column): Column =
    call_function("pq_encode", books, emb)
  def pqLut(books: Column, emb: Column): Column =
    call_function("pq_lut", books, emb)
  def pqAdc(lut: Column, codes: Column): Column =
    call_function("pq_adc", lut, codes)
  def vecL2(a: Column, b: Column): Column =
    call_function("vec_l2", a, b)

  /** Squared-L2 SQL with the kernel's exact arithmetic: per-coordinate
    * (CAST-to-double difference) squared by self-multiplication,
    * left-to-right fold. */
  def l2Sql(a: String, b: String): String =
    s"list_reduce(list_transform(range(1, len($a)+1), " +
      s"i -> (CAST($a[i] AS DOUBLE) - CAST($b[i] AS DOUBLE)) * " +
      s"(CAST($a[i] AS DOUBLE) - CAST($b[i] AS DOUBLE))), (x, y) -> x + y)"

  /** Top-1 L2 assignment CTE: `$name(vec_id, embedding, cent_id)` from
    * base CTE `$base(vec_id, embedding)` × `$centsCte(cent_id, c_emb)`
    * (argmin dist, ties → lowest cent_id — the kernel's strict-< rule). */
  def l2CellCte(name: String, base: String, centsCte: String): String = {
    val dist = l2Sql("ct.c_emb", "x.embedding")
    s"""$name AS (
       |  SELECT vec_id, embedding, cent_id FROM (
       |    SELECT x.vec_id, x.embedding, ct.cent_id,
       |      row_number() OVER (PARTITION BY x.vec_id
       |        ORDER BY $dist ASC, ct.cent_id) AS r
       |    FROM $base x CROSS JOIN $centsCte ct) t
       |  WHERE r = 1)""".stripMargin
  }

  /** DuckDB CTE chain replaying an L2 Lloyd loop over base CTE
    * `$base(vec_id, embedding)`: seeds = rows with vec_id < `k`,
    * `iters` rounds of (L2 argmin assign, quantized fixed-point
    * centroid mean — [[graft.api.Similarity.KMeansQuantScale]]'s
    * contract, the exact L2 minimizer), ending at CTE
    * `${p}cents$iters(cent_id, c_emb)`. All CTE names carry prefix `$p`
    * so M independent sub-quantizer trainings compose in one WITH. */
  def l2KmeansCtes(p: String, base: String, k: Int, iters: Int,
      quantScale: Long): String = {
    val scale = s"$quantScale.0"
    def recentre(i: Int) =
      s"""${p}ex$i AS (
         |  SELECT cent_id, pos,
         |    CAST(floor(CAST(embedding[pos] AS DOUBLE) * $scale) AS BIGINT) AS q
         |  FROM (SELECT cent_id, embedding,
         |          unnest(range(1, len(embedding)+1)) AS pos
         |        FROM ${p}assign$i) t),
         |${p}cents${i + 1} AS (
         |  SELECT cent_id,
         |    list(CAST(CAST(sq AS DOUBLE) / ($scale * CAST(n AS DOUBLE)) AS FLOAT)
         |         ORDER BY pos) AS c_emb
         |  FROM (SELECT cent_id, pos, SUM(q) AS sq, COUNT(*) AS n
         |        FROM ${p}ex$i GROUP BY 1, 2) s
         |  GROUP BY cent_id)""".stripMargin
    val seed =
      s"""${p}cents0 AS (
         |  SELECT vec_id AS cent_id, embedding AS c_emb
         |  FROM $base WHERE vec_id < $k)""".stripMargin
    val rounds = (0 until iters).map { i =>
      l2CellCte(s"${p}assign$i", base, s"${p}cents$i") + ",\n" + recentre(i)
    }
    (seed +: rounds).mkString(",\n")
  }
}
