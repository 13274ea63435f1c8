package graft.functions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

/** The one table of graft's native SQL functions, behind both
  * registration paths: [[graft.GraftExtensions]] injects every entry at
  * session build, and the runtime `register` calls of
  * [[HashFunctions]]/[[VectorFunctions]]/[[PqFunctions]] install their
  * family's entries into a live session. Both paths hand Spark the same
  * (identifier, info, builder) instances, so a session built with the
  * extension resolves every runtime-registered name, and re-registering
  * an entry replaces it with itself. */
object NativeFunctions {
  type Entry = (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression)

  /** One entry; only `usage` of the metadata is populated — shown by
    * DESCRIBE FUNCTION. */
  private def fn(name: String, clazz: Class[_], usage: String)(
      builder: Seq[Expression] => Expression): Entry =
    (FunctionIdentifier(name),
      new ExpressionInfo(clazz.getName, null, name, usage,
        "", "", "", "", "", "", "built-in"),
      builder)

  val hash: Seq[Entry] = Seq(
    fn("minhash_sig", classOf[LongArrayMinHash],
      "minhash_sig(hashes) - K minhash values of an array<bigint>")(
      e => LongArrayMinHash(e.head)),
    fn("sorted_intersect_count", classOf[SortedLongIntersectCount],
      "sorted_intersect_count(a, b) - intersection size of sorted array<bigint>")(
      e => SortedLongIntersectCount(e(0), e(1))),
    fn("shingle_hashes", classOf[ShingleHashes],
      "shingle_hashes(text) - sorted distinct mod-P hashes of 3-token shingles")(
      e => ShingleHashes(e.head)),
    fn("simhash_p", classOf[SimHashP],
      "simhash_p(hashes) - 64-bit SimHash via affine mod-P votes")(
      e => SimHashP(e.head)),
    fn("str_hash_p", classOf[StrHashP],
      "str_hash_p(s) - deterministic polynomial hash mod P")(
      e => StrHashP(e.head)),
    fn("simhash_text", classOf[SimHashText],
      "simhash_text(text) - fused document SimHash (tokenize+hash+vote)")(
      e => SimHashText(e.head)),
    fn("winnow_fingerprints", classOf[WinnowFingerprints],
      "winnow_fingerprints(text) - winnowing fingerprint set")(
      e => WinnowFingerprints(e.head, HashFunctions.WinnowK, HashFunctions.WinnowW)),
    fn("tokenize_words", classOf[TokenizeWords],
      "tokenize_words(text) - lowercased alphanumeric word tokens")(
      e => TokenizeWords(e.head)),
    fn("word_ngrams", classOf[WordNGrams],
      "word_ngrams(text, n) - whitespace word n-grams in one pass")(
      e => WordNGrams(e(0), HashFunctions.intLit(e(1)))),
    fn("top_gram_count", classOf[TopGramCount],
      "top_gram_count(text, n) - highest multiplicity among the word n-grams")(
      e => TopGramCount(e(0), HashFunctions.intLit(e(1)))),
    fn("bloom_might_contain", classOf[BloomMightContain],
      "bloom_might_contain(bloom, key, k) - Bloom-filter membership probe")(
      e => BloomMightContain(e(0), e(1), HashFunctions.intLit(e(2)))))

  val vector: Seq[Entry] = Seq(
    fn("vec_dot", classOf[FloatVecDot],
      "vec_dot(a, b) - dot product of two array<float> vectors")(
      e => FloatVecDot(e(0), e(1))),
    fn("nearest_centroid", classOf[NearestCentroid],
      "nearest_centroid(cents, emb, nrm) - (cent_id, ccos) of the most cosine-similar centroid")(
      e => NearestCentroid(e(0), e(1), e(2))),
    fn("hier_nearest_centroid", classOf[HierNearestCentroid],
      "hier_nearest_centroid(tree, emb, nrm, w) - nearest centroid via the top-w coarse cells")(
      e => HierNearestCentroid(e(0), e(1), e(2), e(3).eval().asInstanceOf[Int])),
    fn("lsh_signatures", classOf[LshSignatures],
      "lsh_signatures(v[, tables, planes]) - hyperplane-LSH signatures") {
      case Seq(e) => LshSignatures(e, SimConstants.NTables, SimConstants.NPlanes)
      case Seq(e, t, p) =>
        LshSignatures(e, t.eval().asInstanceOf[Int], p.eval().asInstanceOf[Int])
      case other => throw new IllegalArgumentException(
        s"lsh_signatures expects 1 or 3 args, got ${other.length}")
    })

  val pq: Seq[Entry] = Seq(
    fn("nearest_centroid_l2", classOf[NearestCentroidL2],
      "nearest_centroid_l2(cents, emb) - (cent_id, dist) of the L2-nearest centroid")(
      e => NearestCentroidL2(e(0), e(1))),
    fn("pq_encode", classOf[PqEncode],
      "pq_encode(books, emb) - product-quantizer code positions of a vector")(
      e => PqEncode(e(0), e(1))),
    fn("pq_lut", classOf[PqLut],
      "pq_lut(books, q) - per-subspace ADC lookup tables of a query")(
      e => PqLut(e(0), e(1))),
    fn("pq_adc", classOf[PqAdc],
      "pq_adc(lut, codes) - asymmetric-distance inner-product estimate")(
      e => PqAdc(e(0), e(1))),
    fn("vec_l2", classOf[FloatVecL2],
      "vec_l2(a, b) - squared L2 distance of two array<float> vectors")(
      e => FloatVecL2(e(0), e(1))))

  val all: Seq[Entry] = hash ++ vector ++ pq

  /** Install `entries` into the live session's function registry. */
  def register(spark: SparkSession, entries: Seq[Entry]): Unit = {
    val reg = spark.sessionState.functionRegistry
    entries.foreach { case (id, info, builder) =>
      reg.registerFunction(id, info, builder) }
  }
}
