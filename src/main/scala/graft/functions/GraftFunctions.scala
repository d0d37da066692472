package graft.functions

import org.apache.spark.sql.{Column, GraftInternals, SparkSession}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.expressions.{Aggregator, UserDefinedFunction}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.Encoder
import org.apache.spark.sql.Encoders

/** Column-level building blocks for the engine's query inventory.
  *
  * Everything here composes codegen'd Catalyst built-ins (SURVEY.md §2
  * E20-E26, X1-X4); no Scala UDF sits on a hot path. The system's
  * only UDAFs are [[GeoMean]] (E14) and the bounded top-k aggregates
  * [[TopKAgg]] and [[TopKSimAgg]] (E14b).
  *
  * Every native kernel is built straight from its Catalyst expression,
  * so nothing has to be registered on a session before a helper here
  * is used. [[Kernels]] names them for SQL: `GraftExtensions` injects
  * it into every session, and [[register]] installs it on one session
  * built without the extension.
  *
  * Portability rule: any function that must be reproduced by the DuckDB
  * oracle uses only operations with identical semantics in both engines
  * (md5, integer arithmetic, sequential double folds).
  */
object GraftFunctions {

  /** Portable deterministic 60-bit hash: first 15 hex chars of md5.
    * DuckDB equivalent: `('0x' || substr(md5(s), 1, 15))::BIGINT`.
    */
  def hash64(c: Column): Column =
    conv(substring(md5(c), 1, 15), 16, 10).cast("long")

  /** MinHash permutation: (a * (h mod P) + b) mod P over the Mersenne
    * prime 2^31-1; products stay < 2^62 so 64-bit wrap never occurs —
    * identical in Spark and DuckDB.
    */
  val MinhashP = 2147483647L
  def permHash(h: Column, a: Long, b: Long): Column =
    (lit(a) * (h % MinhashP) + lit(b)) % MinhashP

  /** Deterministic permutation coefficients (i = 0..n-1). */
  def permCoeffs(n: Int): Seq[(Long, Long)] =
    (0 until n).map { i => (1103515245L * (i + 1) % MinhashP, 12345L * (i + 7) % MinhashP) }

  private def kernel(e: Expression): Column = GraftInternals.column(e)
  private def ex(c: Column): Expression = GraftInternals.expression(c)

  /** Word k-shingles of a text column: array of the n-k+1 space-joined
    * k-grams (empty when the text has fewer than k tokens). DuckDB
    * mirror: `list_transform(range(len(toks)-k+1), i ->
    * array_to_string(toks[i+1:i+k], ' '))`. Served by the native
    * [[WordShinglesExpr]] kernel (identical strings, whole-stage
    * codegen; the transform+slice HOF form it replaces is interpreted
    * per element).
    */
  def shingles(text: Column, k: Int): Column = kernel(WordShinglesExpr(ex(text), k))

  /** The same shingles as one row each, column `shingle`, streamed by
    * the [[ShingleGenerator]] (no per-document array).
    */
  def shingleRows(text: Column, k: Int): Column = kernel(ShingleGenerator(ex(text), k))

  /** Non-overlapping k-token chunks (see [[WordChunksExpr]]). */
  def wordChunks(text: Column, k: Int): Column = kernel(WordChunksExpr(ex(text), k))

  /** Sequential left-to-right double dot product of two float vectors.
    * Bitwise-deterministic: the native [[VecDotExpr]] kernel, Spark's
    * `aggregate(zip_with(...))` fold, and DuckDB `list_sum` all fold
    * left-to-right over the same widened doubles — the kernel just does
    * it inside whole-stage codegen instead of per-element interpreted
    * lambdas (HOFs are CodegenFallback; measured ~4× on the pair
    * loops).
    */
  def dot(a: Column, b: Column): Column = kernel(VecDotExpr(ex(a), ex(b)))

  /** Integer companion for the SQ8 path: wrapping 64-bit fold. */
  def dotI64(a: Column, b: Column): Column = kernel(VecDotLongExpr(ex(a), ex(b)))

  /** PQ ADC score: sum of the candidate's m LUT hits (see [[AdcScore]]). */
  def adcScore(codes: Column, lut: Column): Column = kernel(AdcScoreExpr(ex(codes), ex(lut)))

  /** |a∩b| of two SORTED arrays, both STRING or both BIGINT (see
    * [[SortedCommon]]); unlike the SQL form, INT arrays are not widened.
    */
  def sortedCommon(a: Column, b: Column): Column = kernel(SortedCommonExpr(ex(a), ex(b)))

  /** Early-exit |a∩b|: exact whenever the true count can still reach
    * `need`, a partial (< need) count the moment it cannot — callers
    * must keep only `>= need`-monotone-filtered rows (see
    * [[SortedCommon.countAtLeast]]'s contract).
    */
  def sortedCommonAtLeast(a: Column, b: Column, need: Column): Column =
    kernel(SortedCommonAtLeastExpr(ex(a), ex(b), ex(need)))

  /** Parameterized bounded top-k over (DOUBLE sim, BIGINT id) — the
    * [[TopKSimAgg]] aggregate as a directly-applicable column function,
    * so call sites can pick k per query (k=3 final rankings, k=rerank
    * ADC shortlists) without a registry entry per k. Same ordering
    * contract as the `row_number() OVER (ORDER BY sim DESC, id)` window
    * it replaces; partial state is ≤ k pairs per key per partition.
    */
  def topKSim(k: Int): UserDefinedFunction =
    udaf(new TopKSimAgg(k), Encoders.tuple(Encoders.scalaDouble, Encoders.scalaLong))

  /** [[TopKAgg]], bounded top-k over (BIGINT value, BIGINT id). */
  def topK(k: Int): UserDefinedFunction =
    udaf(new TopKAgg(k), Encoders.tuple(Encoders.scalaLong, Encoders.scalaLong))

  def norm(a: Column): Column = sqrt(dot(a, a))

  def cosine(a: Column, b: Column): Column = dot(a, b) / (norm(a) * norm(b))

  /** Rule-based language ID over text — same CASE cascade the oracle SQL
    * replicates (X4). Tuned for the corpus vocabulary, deterministic.
    */
  def langId(text: Column): Column = {
    val toks = split(text, " ")
    val n = size(toks).cast("double")
    def ratio(word: String): Column =
      size(filter(toks, t => t === word)).cast("double") / n
    when(ratio("the") + ratio("a") > 0.08, "en")
      .when(ratio("data") + ratio("query") > 0.10, "es")
      .when(ratio("table") + ratio("row") > 0.10, "de")
      .otherwise("other")
  }

  /** Quality score: blend of length, punctuation ratio, stopword ratio,
    * mean token length (X4) — pure arithmetic, oracle-replicable.
    */
  def qualityScore(text: Column): Column = {
    val toks = split(text, " ")
    val nTok = size(toks).cast("double")
    val nChar = length(text).cast("double")
    val stop = size(filter(toks, t => t.isin("the", "a", "of", "and"))).cast("double")
    val meanTokLen = (nChar - (nTok - 1)) / nTok
    floor((least(nTok / lit(100.0), lit(1.0)) * lit(0.4)
        + (lit(1.0) - stop / nTok) * lit(0.3)
        + least(meanTokLen / lit(8.0), lit(1.0)) * lit(0.3)) * 10000 + lit(0.5)) / 10000.0
  }

  private def intArg(e: Expression): Int = e.eval().asInstanceOf[Number].intValue()

  /** The SQL name and builder of every native scalar and generator
    * kernel — codegen Expressions (E26 "promote hot ones"), not Scala
    * UDFs, so they stay inside whole-stage codegen. Integer parameters
    * are literal arguments in SQL.
    */
  val Kernels: Seq[(String, Seq[Expression] => Expression)] = Seq(
    ("script_type", e => ScriptTypeExpr(e.head)),
    ("decompress_amount", e => DecompressAmountExpr(e.head)),
    ("zorder2", ZOrder2Expr.validated),
    ("minhash_sigs", e => MinHashSigsExpr(e.head)),
    ("simhash48", e => SimHash48Expr(e.head, 48)),
    ("simhash60", e => SimHash48Expr(e.head, 60)),
    ("vec_dot", e => VecDotExpr(e.head, e(1))),
    ("vec_dot_i64", e => VecDotLongExpr(e.head, e(1))),
    ("adc_score", e => AdcScoreExpr(e.head, e(1))),
    ("sorted_common", e => SortedCommonExpr(SortedCommon.widened(e.head), SortedCommon.widened(e(1)))),
    ("sorted_common_at_least", e => SortedCommonAtLeastExpr(
      SortedCommon.widened(e.head), SortedCommon.widened(e(1)), e(2))),
    ("quant6", e => QuantizeMicroExpr(e.head)),
    ("quant_nd2", e => QuantNd2Expr(e.head, intArg(e(1)), intArg(e(2)), e(3), e(4))),
    ("quant_argmin", e => QuantArgminExpr(e.head, intArg(e(1)), intArg(e(2)), e(3), e(4))),
    ("lsh_sign_bits", e => LshSignBitsExpr(e.head, intArg(e(1)))),
    ("word_shingles", e => WordShinglesExpr(e.head, intArg(e(1)))),
    ("word_chunks", e => WordChunksExpr(e.head, intArg(e(1)))),
    ("shingle_gen", e => ShingleGenerator(e.head, intArg(e(1)))))

  /** Make [[Kernels]] and the three UDAFs (`geo_mean`, `top_k3`,
    * `top_k3_sim`) SQL functions of `spark` — for a session built
    * without `GraftExtensions` that runs SQL text naming them. The
    * Column helpers here need neither.
    */
  def register(spark: SparkSession): Unit = {
    spark.udf.register("geo_mean", udaf(GeoMean))
    spark.udf.register("top_k3", topK(3))
    spark.udf.register("top_k3_sim", topKSim(3))
    val registry = spark.sessionState.functionRegistry
    Kernels.foreach { case (name, build) =>
      registry.createOrReplaceTempFunction(name, build, "built-in")
    }
  }

  /** The clustered-convert range router over THIS convert's sampled
    * bounds: the bounds are per-call data, so two converts never route
    * with each other's bounds.
    */
  def scriptRoute(bounds: Array[Array[Byte]], tokens: Array[Int], script: Column): Column =
    kernel(ScriptRouteExpr(ex(script), bounds, tokens))

  def scriptType(c: Column): Column = kernel(ScriptTypeExpr(ex(c)))
  def decompressAmount(c: Column): Column = kernel(DecompressAmountExpr(ex(c)))
  /** Z-order key of two integral columns ([[ZOrder2Expr.widened]]);
    * unlike the SQL form, the argument types are not checked.
    */
  def zorder2(x: Column, y: Column): Column = kernel(ZOrder2Expr.widened(ex(x), ex(y)))
  def minhashSigs(c: Column): Column = kernel(MinHashSigsExpr(ex(c)))
  def simhash48(c: Column): Column = kernel(SimHash48Expr(ex(c), 48))
  /** Full-width (60-bit) fingerprint — the banded near-dup input since
    * r10; the md5-derived token hash carries exactly 60 bits.
    */
  def simhash60(c: Column): Column = kernel(SimHash48Expr(ex(c), 60))
  def lshSignBits(v: Column, nBits: Int): Column = kernel(LshSignBitsExpr(ex(v), nBits))
  /** Micro-quantize ARRAY<DOUBLE> → ARRAY<BIGINT> (see [[QuantizeMicro]]):
    * every element becomes floor(x·1e6 + 0.5). The fully-oracled ANN
    * paths quantize with it, so everything downstream of the KMeans fit
    * is exact integer arithmetic that the DuckDB oracle replicates.
    */
  def quant6(v: Column): Column = kernel(QuantizeMicroExpr(ex(v.cast("array<double>"))))
  /** Argmin cell over a flattened quantized codebook (see [[QuantArgmin]]). */
  def quantArgmin(q: Column, offset: Int, len: Int,
      centsFlat: Column, cn2: Column): Column =
    kernel(QuantArgminExpr(ex(q), offset, len, ex(centsFlat), ex(cn2)))
  /** Per-cell pseudo-distance list (see [[QuantNd2]]). */
  def quantNd2(q: Column, offset: Int, len: Int,
      centsFlat: Column, cn2: Column): Column =
    kernel(QuantNd2Expr(ex(q), offset, len, ex(centsFlat), ex(cn2)))
}

/** Bounded-memory top-k-per-key aggregate (E14b): keeps the k largest
  * (value, id) pairs per group, ordered value DESC then id ASC (the
  * unique tie-break that makes the result deterministic).
  *
  * Why an Aggregator instead of the window `row_number() <= k` idiom:
  * the window shuffles and sorts EVERY row of every group; this
  * aggregate's partial (map-side) state is at most k pairs per key per
  * partition, so at 100 TB the shuffle carries k rows per key instead
  * of the whole table — the same partial/final contract as `max`,
  * applied to top-k. The buffer stays sorted and truncated at every
  * reduce/merge, so memory is O(k) regardless of group size.
  */
class TopKAgg(k: Int)
    extends Aggregator[(Long, Long), Seq[(Long, Long)], Seq[(Long, Long)]] {
  // value DESC then id ASC — compared directly, not via `-v`, which
  // overflows at Long.MinValue (−Long.MinValue == Long.MinValue, so the
  // smallest possible value would rank as the largest and evict genuine
  // top entries; latent for prices, wrong for the general BIGINT UDAF)
  private val ord: Ordering[(Long, Long)] = new Ordering[(Long, Long)] {
    def compare(a: (Long, Long), b: (Long, Long)): Int = {
      val c = java.lang.Long.compare(b._1, a._1)
      if (c != 0) c else java.lang.Long.compare(a._2, b._2)
    }
  }
  override def zero: Seq[(Long, Long)] = Seq.empty
  override def reduce(b: Seq[(Long, Long)], x: (Long, Long)): Seq[(Long, Long)] =
    // cheap pre-filter: once full, only values beating the floor enter
    if (b.length == k && ord.gteq(x, b.last)) b
    else ((b :+ x).sorted(ord)).take(k)
  override def merge(a: Seq[(Long, Long)], b: Seq[(Long, Long)]): Seq[(Long, Long)] =
    (a ++ b).sorted(ord).take(k)
  override def finish(b: Seq[(Long, Long)]): Seq[(Long, Long)] = b.sorted(ord)
  override def bufferEncoder: Encoder[Seq[(Long, Long)]] =
    org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Seq[(Long, Long)]]()
  override def outputEncoder: Encoder[Seq[(Long, Long)]] =
    org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Seq[(Long, Long)]]()
}

/** [[TopKAgg]] over (DOUBLE score, id) — the ANN ranking shape (r9):
  * `row_number() OVER (ORDER BY sim DESC, cand_id)` + `rnk <= 3` sorts
  * the FULL candidate-pair set through one exchange (80M rows at the
  * 1M-vector proof); this aggregate's partial state is ≤ k pairs per
  * query per partition, so the shuffle carries k rows per key. The
  * comparator is exactly the window's ordering — `Double.compare`
  * descending (the sims are identical IEEE doubles either way; NaN
  * cannot occur, norms are positive), id ascending on ties — so the
  * emitted top-k is row-identical to the window form and the generated
  * DuckDB oracles keep checking it.
  */
class TopKSimAgg(k: Int)
    extends Aggregator[(Double, Long), Seq[(Double, Long)], Seq[(Double, Long)]] {
  private val ord: Ordering[(Double, Long)] = new Ordering[(Double, Long)] {
    def compare(a: (Double, Long), b: (Double, Long)): Int = {
      val c = java.lang.Double.compare(b._1, a._1)
      if (c != 0) c else java.lang.Long.compare(a._2, b._2)
    }
  }
  // The buffer is an ALWAYS-SORTED Vector maintained by binary
  // insertion: O(1) reject once saturated, O(log k) search + O(k) copy
  // per accepted row. The first cut re-sorted the whole buffer on
  // every accepted insert — invisible at k=3 (LSH/IVF ranking) but
  // catastrophic at k=rerank (the PQ ADC shortlist runs k=1000 at the
  // 1M proof: ~k·log k work × k pre-saturation inserts × every
  // (query × partition) pair measured the shortlist 7× slower than
  // the rank window it replaced; binary insertion restores the win).
  override def zero: Seq[(Double, Long)] = Vector.empty
  override def reduce(b: Seq[(Double, Long)], x: (Double, Long)): Seq[(Double, Long)] =
    if (b.length == k && ord.gteq(x, b.last)) b
    else {
      var lo = 0
      var hi = b.length
      while (lo < hi) {
        val mid = (lo + hi) >>> 1
        if (ord.lt(x, b(mid))) hi = mid else lo = mid + 1
      }
      val grown = (b.take(lo) :+ x) ++ b.drop(lo)
      if (grown.length > k) grown.dropRight(1) else grown
    }
  override def merge(a: Seq[(Double, Long)], b: Seq[(Double, Long)]): Seq[(Double, Long)] =
    (a ++ b).sorted(ord).take(k).toVector
  override def finish(b: Seq[(Double, Long)]): Seq[(Double, Long)] = b.sorted(ord)
  override def bufferEncoder: Encoder[Seq[(Double, Long)]] =
    org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Seq[(Double, Long)]]()
  override def outputEncoder: Encoder[Seq[(Double, Long)]] =
    org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Seq[(Double, Long)]]()
}

/** Geometric mean UDAF (E14): exp(mean(ln x)) with a (sumLog, n) buffer.
  * Oracle: `exp(avg(ln(x)))`.
  */
object GeoMean extends Aggregator[Double, (Double, Long), Double] {
  override def zero: (Double, Long) = (0.0, 0L)
  override def reduce(b: (Double, Long), x: Double): (Double, Long) =
    if (x > 0) (b._1 + math.log(x), b._2 + 1) else b
  override def merge(a: (Double, Long), b: (Double, Long)): (Double, Long) =
    (a._1 + b._1, a._2 + b._2)
  override def finish(b: (Double, Long)): Double =
    if (b._2 == 0) 0.0 else math.exp(b._1 / b._2)
  override def bufferEncoder: Encoder[(Double, Long)] =
    Encoders.tuple(Encoders.scalaDouble, Encoders.scalaLong)
  override def outputEncoder: Encoder[Double] = Encoders.scalaDouble
}
