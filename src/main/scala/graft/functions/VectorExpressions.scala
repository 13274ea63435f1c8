package graft.functions

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType}

/** Native Catalyst expression for `Array[Float]` dot products — the hot
  * inner loop of the similarity/dedup operators. A tight primitive loop
  * over `ArrayData` with whole-stage codegen; ~10-100× faster than the
  * equivalent `aggregate(zip_with(...))` higher-order-function chain and
  * with a *defined* accumulation order (left-to-right in double), which
  * the DuckDB oracle reproduces exactly via `list_reduce`.
  */
case class FloatVecDot(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = DoubleType

  override def checkInputDataTypes(): TypeCheckResult = {
    val ok = Seq(left, right).forall(_.dataType match {
      case ArrayType(FloatType, _) => true
      case _ => false
    })
    if (ok) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"vec_dot expects two array<float> args, got " +
        s"(${left.dataType.simpleString}, ${right.dataType.simpleString})")
  }

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var acc = 0.0
    var i = 0
    while (i < n) {
      acc += x.getFloat(i).toDouble * y.getFloat(i).toDouble
      i += 1
    }
    acc
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (x, y) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val acc = ctx.freshName("acc")
      s"""
         |int $n = java.lang.Math.min($x.numElements(), $y.numElements());
         |double $acc = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  $acc += ((double) $x.getFloat($i)) * ((double) $y.getFloat($i));
         |}
         |${ev.value} = $acc;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): FloatVecDot =
    copy(left = newLeft, right = newRight)
}

/** Shared LSH geometry (kept here so the expression and the query layer
  * agree). */
object SimConstants {
  val NPlanes = 12
  val NTables = 4
}

/** Random-hyperplane LSH signatures, one per hash table, in a single
  * native pass. Coefficients are exact integer congruences (no RNG, no
  * libm) so signatures are deterministic on any engine/platform: the
  * (t,p,d) lattice point double-quadratic-scrambled mod P — see
  * [[HashKernels.planeCoef]] for the formula and why the scramble
  * matters (the raw lattice duplicated planes across tables).
  * Output: array<long> of `tables` signatures, bit p of signature t set
  * iff dot(plane_{t,p}, v) >= 0.
  */
case class LshSignatures(child: Expression, tables: Int, planes: Int)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {

  override def dataType: DataType =
    ArrayType(org.apache.spark.sql.types.LongType, containsNull = false)

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(FloatType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"lsh_signatures expects array<float>, got ${other.simpleString}")
  }

  override def nullSafeEval(v: Any): Any =
    HashKernels.lshSignatures(v.asInstanceOf[ArrayData], tables, planes)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, x =>
      s"${ev.value} = graft.functions.HashKernels.lshSignatures($x, $tables, $planes);")

  override protected def withNewChildInternal(c: Expression): LshSignatures =
    copy(child = c)
}

/** Nearest-centroid assignment as ONE native expression over a
  * broadcast centroid array — the zero-shuffle form of k-means
  * assignment: per corpus row, argmax cosine over
  * `array<struct<cent_id:long, c_emb:array<float>, c_nrm:double>>`
  * (sorted ascending by cent_id), returning
  * `struct<cent_id:long, ccos:double>`.
  *
  * The declarative alternative (fan-out join × k centroids + window
  * top-1) shuffles the whole corpus once per Lloyd round for the
  * row_number exchange; this expression keeps assignment map-only —
  * the centroids ride a 1-row broadcast, so a 100 TB corpus is never
  * exchanged to pick its nearest centroid. Iteration ascends cent_id
  * with a strict `>` replace, so exact cosine ties keep the LOWEST
  * cent_id — bit-identical to the oracle's
  * `ORDER BY ccos DESC, cent_id` (dot products accumulate
  * left-to-right in double, divides in the cosinePre op order).
  */
case class NearestCentroid(cents: Expression, emb: Expression, nrm: Expression)
    extends org.apache.spark.sql.catalyst.expressions.TernaryExpression {
  import org.apache.spark.sql.types._

  override def first: Expression = cents
  override def second: Expression = emb
  override def third: Expression = nrm

  override def dataType: DataType = StructType(Seq(
    StructField("cent_id", LongType, nullable = false),
    StructField("ccos", DoubleType, nullable = false)))

  override def checkInputDataTypes(): TypeCheckResult = {
    val centsOk = cents.dataType match {
      case ArrayType(StructType(fs), _) => fs.length == 3 &&
        fs(0).dataType == LongType &&
        (fs(1).dataType match {
          case ArrayType(FloatType, _) => true
          case _ => false
        }) &&
        fs(2).dataType == DoubleType
      case _ => false
    }
    val embOk = emb.dataType match {
      case ArrayType(FloatType, _) => true
      case _ => false
    }
    if (centsOk && embOk && nrm.dataType == DoubleType)
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"nearest_centroid expects (array<struct<long,array<float>,double>>, " +
        s"array<float>, double), got (${cents.dataType.simpleString}, " +
        s"${emb.dataType.simpleString}, ${nrm.dataType.simpleString})")
  }

  override def nullSafeEval(c: Any, e: Any, n: Any): Any =
    VectorKernels.nearestCentroid(c.asInstanceOf[ArrayData],
      e.asInstanceOf[ArrayData], n.asInstanceOf[Double])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (c, e, n) =>
      s"${ev.value} = graft.functions.VectorKernels.nearestCentroid($c, $e, $n);")

  override protected def withNewChildrenInternal(
      f: Expression, s: Expression, t: Expression): NearestCentroid =
    copy(cents = f, emb = s, nrm = t)
}

/** Two-level (coarse-quantizer) nearest-centroid assignment as ONE
  * native expression — the IVF-at-scale shape [Jégou et al., "Product
  * Quantization for Nearest Neighbor Search", inverted multi-index /
  * coarse-quantizer practice in FAISS]: a flat argmax over k centroids
  * costs n·k dot products, which turns quadratic once the codebook
  * grows with the corpus (k ~ corpus/cellSize — the discipline dd11/s4
  * document). Routing each row through k₁ coarse cells first and
  * scanning only the fine centroids that live in the row's top-`w`
  * coarse cells costs n·(k₁ + w·k/k₁) — minimized at k₁ ≈ √(wk).
  *
  * Input `tree`: array<struct<coarse: struct<cent_id, c_emb, c_nrm>,
  * fines: array<struct<cent_id, c_emb, c_nrm>>>> sorted ascending by
  * coarse cent_id; returns struct<cent_id, ccos> — the best FINE
  * centroid among the probed cells. Approximation contract: a row
  * whose true nearest fine centroid lives outside its top-`w` coarse
  * cells gets its best probed one instead; `w = k₁` degenerates to the
  * exact flat argmax (spec-pinned equal to [[NearestCentroid]]).
  * Determinism: coarse top-w selection and the fine argmax both use
  * strict `>` over ascending-id iteration, so exact ties keep the
  * lowest id, like the flat path. */
case class HierNearestCentroid(tree: Expression, emb: Expression,
    nrm: Expression, w: Int)
    extends org.apache.spark.sql.catalyst.expressions.TernaryExpression {
  import org.apache.spark.sql.types._

  override def first: Expression = tree
  override def second: Expression = emb
  override def third: Expression = nrm

  override def dataType: DataType = StructType(Seq(
    StructField("cent_id", LongType, nullable = false),
    StructField("ccos", DoubleType, nullable = false)))

  override def checkInputDataTypes(): TypeCheckResult = {
    val treeOk = tree.dataType match {
      case ArrayType(StructType(fs), _) => fs.length == 2 &&
        fs(0).dataType.isInstanceOf[StructType] &&
        fs(1).dataType.isInstanceOf[ArrayType]
      case _ => false
    }
    val embOk = emb.dataType match {
      case ArrayType(FloatType, _) => true
      case _ => false
    }
    if (treeOk && embOk && nrm.dataType == DoubleType && w >= 1)
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"hier_nearest_centroid expects (array<struct<struct,array>>, " +
        s"array<float>, double) and w >= 1, got (${tree.dataType.simpleString}, " +
        s"${emb.dataType.simpleString}, ${nrm.dataType.simpleString}), w=$w")
  }

  override def nullSafeEval(t: Any, e: Any, n: Any): Any =
    VectorKernels.hierNearestCentroid(t.asInstanceOf[ArrayData],
      e.asInstanceOf[ArrayData], n.asInstanceOf[Double], w)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (t, e, n) =>
      s"${ev.value} = graft.functions.VectorKernels.hierNearestCentroid($t, $e, $n, $w);")

  override protected def withNewChildrenInternal(
      f: Expression, s: Expression, t: Expression): HierNearestCentroid =
    copy(tree = f, emb = s, nrm = t)
}

/** Static kernels for [[NearestCentroid]] / [[HierNearestCentroid]]
  * (called from both eval and generated code, like [[HashKernels]]). */
object VectorKernels {
  import org.apache.spark.sql.catalyst.InternalRow
  import org.apache.spark.sql.catalyst.expressions.GenericInternalRow

  /** dot(c_emb, emb)/(c_nrm · nrm) for one centroid struct — the exact
    * cosinePre op order both assignment kernels share. */
  private def centCos(ct: InternalRow, emb: ArrayData, nrm: Double): Double = {
    val cEmb = ct.getArray(1)
    val n = math.min(emb.numElements(), cEmb.numElements())
    var acc = 0.0
    var d = 0
    while (d < n) {
      acc += cEmb.getFloat(d).toDouble * emb.getFloat(d).toDouble
      d += 1
    }
    acc / (ct.getDouble(2) * nrm)
  }

  def nearestCentroid(cents: ArrayData, emb: ArrayData, nrm: Double): InternalRow = {
    val k = cents.numElements()
    require(k > 0, "nearest_centroid: empty centroid array")
    var bestId = -1L
    var bestCos = Double.NegativeInfinity
    var i = 0
    while (i < k) {
      val ct = cents.getStruct(i, 3)
      val cc = centCos(ct, emb, nrm)
      if (cc > bestCos) { bestCos = cc; bestId = ct.getLong(0) }
      i += 1
    }
    new GenericInternalRow(Array[Any](bestId, bestCos))
  }

  def hierNearestCentroid(tree: ArrayData, emb: ArrayData, nrm: Double,
      w: Int): InternalRow = {
    val k1 = tree.numElements()
    require(k1 > 0, "hier_nearest_centroid: empty coarse tree")
    // top-w coarse cells by cosine; strict > over ascending-id order
    // keeps the lowest coarse id on exact ties. Selection is O(k1·w)
    // with w small — no heap needed.
    val probeN = math.min(w, k1)
    val probedIdx = new Array[Int](probeN)
    val probedCos = new Array[Double](probeN)
    java.util.Arrays.fill(probedCos, Double.NegativeInfinity)
    var i = 0
    while (i < k1) {
      val cc = centCos(tree.getStruct(i, 2).getStruct(0, 3), emb, nrm)
      // insert (cc, i) if it beats the current floor
      var j = probeN - 1
      if (cc > probedCos(j)) {
        while (j > 0 && cc > probedCos(j - 1)) {
          probedCos(j) = probedCos(j - 1); probedIdx(j) = probedIdx(j - 1)
          j -= 1
        }
        probedCos(j) = cc; probedIdx(j) = i
      }
      i += 1
    }
    // fine argmax across the probed cells, ascending cell index so
    // exact fine-cosine ties keep the lowest fine id (tree and fines
    // are both sorted ascending by id)
    java.util.Arrays.sort(probedIdx, 0, probeN)
    var bestId = -1L
    var bestCos = Double.NegativeInfinity
    var p = 0
    while (p < probeN) {
      val fines = tree.getStruct(probedIdx(p), 2).getArray(1)
      var f = 0
      val nf = fines.numElements()
      while (f < nf) {
        val ct = fines.getStruct(f, 3)
        val cc = centCos(ct, emb, nrm)
        if (cc > bestCos) { bestCos = cc; bestId = ct.getLong(0) }
        f += 1
      }
      p += 1
    }
    new GenericInternalRow(Array[Any](bestId, bestCos))
  }
}

/** Column-level vector helpers. `register` installs the native function
  * into the session's FunctionRegistry (idempotent), after which
  * `call_function` builds Columns through the public API.
  */
object VectorFunctions {

  def register(spark: SparkSession): Unit =
    NativeFunctions.register(spark, NativeFunctions.pq ++ NativeFunctions.vector)

  def lshSignatures(emb: Column): Column = call_function("lsh_signatures", emb)

  /** Signatures with explicit geometry — callers with their own
    * recall/selectivity point (e.g. dedup vs ANN) pick tables/planes;
    * planes should grow ~log(corpus) to keep bucket sizes bounded. */
  def lshSignatures(emb: Column, tables: Int, planes: Int): Column =
    call_function("lsh_signatures", emb, lit(tables), lit(planes))

  /** DuckDB `UNION ALL` branches computing one (tbl, sig) row per hash
    * table over a CTE `c(vec_id, embedding, nrm)` — bit-identical to
    * [[LshSignatures]] (same integer-congruential plane coefficients). */
  def lshSigsSql(tables: Int, planes: Int): String = {
    def planeDot(t: Int, p: Int) = {
      val P = PolyHashConstants.P
      val base = t.toLong * 7919L + p.toLong * 104729L
      // HashKernels.planeCoef inlined (h0 duplicated through the nested
      // scrambles — generated text, DuckDB folds it per element)
      val h0 = s"(($base + (i-1)*13007) % $P)"
      val h1 = s"(($h0 * $h0 + 2531011) % $P)"
      val h2 = s"(($h1 * 1103515245 + 12345) % $P)"
      val h3 = s"(($h2 * $h2 + 2531011) % $P)"
      s"list_reduce(list_transform(range(1, len(embedding)+1), " +
        s"i -> CAST(embedding[i] AS DOUBLE) * " +
        s"($h3 / $P.0 - 0.5)), (x, y) -> x + y)"
    }
    def sig(t: Int) = (0 until planes).map { p =>
      s"(CASE WHEN ${planeDot(t, p)} >= 0 THEN ${1L << p} ELSE 0 END)"
    }.mkString("(", " + ", ")")
    (0 until tables).map { t =>
      s"SELECT vec_id, embedding, nrm, $t AS tbl, ${sig(t)} AS sig FROM c"
    }.mkString("\nUNION ALL\n")
  }

  def dot(a: Column, b: Column): Column = call_function("vec_dot", a, b)

  /** DuckDB CTE: top-`topN` nearest-centroid cells (by cosine, ties to
    * the lowest cent_id) for every row of CTE `c(vec_id, embedding,
    * nrm)`$extraWhere, against centroid CTE `centsCte(cent_id, c_emb,
    * c_nrm)`. Arithmetic mirrors [[NearestCentroid]]/`cosinePre`
    * bit-for-bit (same dot accumulation and divide order). */
  def kmeansCellCte(name: String, centsCte: String, topN: Int,
      extraWhere: String = ""): String = {
    val cc = s"(${dotSql("ct.c_emb", "x.embedding")} / (ct.c_nrm * x.nrm))"
    s"""$name AS (
       |  SELECT vec_id, embedding, nrm, cent_id, ccos FROM (
       |    SELECT x.vec_id, x.embedding, x.nrm, ct.cent_id, $cc AS ccos,
       |      row_number() OVER (PARTITION BY x.vec_id
       |        ORDER BY $cc DESC, ct.cent_id) AS r
       |    FROM c x CROSS JOIN $centsCte ct$extraWhere) t
       |  WHERE r <= $topN)""".stripMargin
  }

  /** DuckDB CTE chain replaying [[graft.api.Similarity.kmeansAssign]]'s
    * Lloyd rounds bit-for-bit: seeds = `c` rows with vec_id < `k`,
    * `iters` rounds of (assign top-1, quantized fixed-point centroid
    * mean — see Similarity.KMeansQuantScale), ending at CTE
    * `cents<iters>n(cent_id, c_emb, c_nrm)`. Caller appends its own
    * final-assignment / probe CTEs over that. Requires CTE
    * `c(vec_id, embedding, nrm)`. */
  def kmeansCtes(k: Int, iters: Int, quantScale: Long): String = {
    val scale = s"$quantScale.0"
    def recentre(i: Int) =
      s"""ex$i AS (
         |  SELECT cent_id, pos,
         |    CAST(floor(CAST(embedding[pos] AS DOUBLE) * $scale) AS BIGINT) AS q
         |  FROM (SELECT cent_id, embedding,
         |          unnest(range(1, len(embedding)+1)) AS pos FROM assign$i) t),
         |cents${i + 1} AS (
         |  SELECT cent_id,
         |    list(CAST(CAST(sq AS DOUBLE) / ($scale * CAST(n AS DOUBLE)) AS FLOAT)
         |         ORDER BY pos) AS c_emb
         |  FROM (SELECT cent_id, pos, SUM(q) AS sq, COUNT(*) AS n
         |        FROM ex$i GROUP BY 1, 2) s
         |  GROUP BY cent_id),
         |cents${i + 1}n AS (
         |  SELECT cent_id, c_emb,
         |    sqrt(${dotSql("c_emb", "c_emb")}) AS c_nrm
         |  FROM cents${i + 1})""".stripMargin
    val seed =
      s"""cents0 AS (
         |  SELECT vec_id AS cent_id, embedding AS c_emb, nrm AS c_nrm
         |  FROM c WHERE vec_id < $k)""".stripMargin
    val rounds = (0 until iters).map { i =>
      kmeansCellCte(s"assign$i", if (i == 0) "cents0" else s"cents${i}n", 1) +
        ",\n" + recentre(i)
    }
    (seed +: rounds).mkString(",\n")
  }

  /** Map-only nearest-centroid assignment (see [[NearestCentroid]]):
    * `cents` = array<struct<cent_id, c_emb, c_nrm>> sorted by cent_id,
    * returns struct<cent_id, ccos>. */
  def nearestCentroid(cents: Column, emb: Column, nrm: Column): Column =
    call_function("nearest_centroid", cents, emb, nrm)

  /** Map-only TWO-LEVEL assignment (see [[HierNearestCentroid]]):
    * `tree` = array<struct<coarse cent struct, fines array>> sorted by
    * coarse cent_id, probes the top-`w` coarse cells. */
  def hierNearestCentroid(tree: Column, emb: Column, nrm: Column, w: Int): Column =
    call_function("hier_nearest_centroid", tree, emb, nrm, lit(w))

  def norm(a: Column): Column = sqrt(dot(a, a))

  /** Cosine similarity with the exact IEEE op sequence
    * dot/(sqrt(dot_aa)*sqrt(dot_bb)) — mirrored in oracle SQL. */
  def cosine(a: Column, b: Column): Column = dot(a, b) / (norm(a) * norm(b))

  /** Cosine given precomputed norms (avoids re-deriving norms per pair
    * in pairwise joins — the norm is computed once per vector). */
  def cosinePre(dotAb: Column, normA: Column, normB: Column): Column =
    dotAb / (normA * normB)

  /** DuckDB SQL fragment computing the identical dot product. */
  def dotSql(a: String, b: String): String =
    s"list_reduce(list_transform(range(1, len($a)+1), " +
      s"i -> CAST($a[i] AS DOUBLE) * CAST($b[i] AS DOUBLE)), (x, y) -> x + y)"

  def cosineSql(a: String, b: String): String =
    s"(${dotSql(a, b)} / (sqrt(${dotSql(a, a)}) * sqrt(${dotSql(b, b)})))"
}
