package graft.functions

import org.apache.spark.sql.{Column, GraftInternals, SparkSession}
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions._
import org.apache.spark.sql.Encoder
import org.apache.spark.sql.Encoders

/** Column-level building blocks for the engine's query inventory.
  *
  * Everything here composes codegen'd Catalyst built-ins (SURVEY.md §2
  * E20-E26, X1-X4); no Scala UDF sits on a hot path. The only UDAF in
  * the system is [[GeoMean]] (E14).
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

  /** Word k-shingles of a text column: array of the n-k+1 space-joined
    * k-grams (empty when the text has fewer than k tokens). DuckDB
    * mirror: `list_transform(range(len(toks)-k+1), i ->
    * array_to_string(toks[i+1:i+k], ' '))`. Served by the native
    * [[WordShinglesExpr]] kernel (identical strings, whole-stage
    * codegen; the transform+slice HOF form it replaces is interpreted
    * per element). Requires [[register]] — `Queries.t` registers on
    * the session it reads a table with, which for a registry entry is
    * the entry's own derived session, not the caller's.
    */
  def shingles(text: Column, k: Int): Column =
    call_function("word_shingles", text, lit(k))

  /** Non-overlapping k-token chunks (see [[WordChunksExpr]]). */
  def wordChunks(text: Column, k: Int): Column =
    call_function("word_chunks", text, lit(k))

  /** Sequential left-to-right double dot product of two float vectors.
    * Bitwise-deterministic: the native [[VecDotExpr]] kernel, Spark's
    * `aggregate(zip_with(...))` fold, and DuckDB `list_sum` all fold
    * left-to-right over the same widened doubles — the kernel just does
    * it inside whole-stage codegen instead of per-element interpreted
    * lambdas (HOFs are CodegenFallback; measured ~4× on the pair
    * loops). Requires [[register]] on the session (all X3/X17 query
    * builders call it).
    */
  def dot(a: Column, b: Column): Column = call_function("vec_dot", a, b)

  /** Integer companion for the SQ8 path: wrapping 64-bit fold. */
  def dotI64(a: Column, b: Column): Column = call_function("vec_dot_i64", a, b)

  /** PQ ADC score: sum of the candidate's m LUT hits (see [[AdcScore]]). */
  def adcScore(codes: Column, lut: Column): Column =
    call_function("adc_score", codes, lut)

  /** |a∩b| of two SORTED string arrays (see [[SortedCommon]]). */
  def sortedCommon(a: Column, b: Column): Column =
    call_function("sorted_common", a, b)

  /** Early-exit |a∩b|: exact whenever the true count can still reach
    * `need`, a partial (< need) count the moment it cannot — callers
    * must keep only `>= need`-monotone-filtered rows (see
    * [[SortedCommon.countAtLeast]]'s contract).
    */
  def sortedCommonAtLeast(a: Column, b: Column, need: Column): Column =
    call_function("sorted_common_at_least", a, b, need)

  /** Parameterized bounded top-k over (DOUBLE sim, BIGINT id) — the
    * [[TopKSimAgg]] aggregate as a directly-applicable column function,
    * so call sites can pick k per query (k=3 final rankings, k=rerank
    * ADC shortlists) without a registry entry per k. Same ordering
    * contract as the `row_number() OVER (ORDER BY sim DESC, id)` window
    * it replaces; partial state is ≤ k pairs per key per partition.
    */
  def topKSim(k: Int): org.apache.spark.sql.expressions.UserDefinedFunction =
    udaf(new TopKSimAgg(k), Encoders.tuple(Encoders.scalaDouble, Encoders.scalaLong))

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

  /** Register SQL-facing functions. The codec scalars are native
    * codegen Expressions (E26 "promote hot ones"), not Scala UDFs —
    * they stay inside whole-stage codegen; the three Aggregators
    * (geo_mean, and the two bounded top-k variants) are the system's
    * only UDAFs — each exists precisely because no built-in gives a
    * bounded-state per-key top-k / streaming log-mean.
    */
  def register(spark: SparkSession): Unit = {
    // idempotent fast path: Queries.t calls this on every table read
    if (spark.sessionState.functionRegistry.functionExists(
        org.apache.spark.sql.catalyst.FunctionIdentifier("word_shingles"))) return
    spark.udf.register("geo_mean", udaf(GeoMean))
    spark.udf.register("top_k3",
      udaf(new TopKAgg(3), Encoders.tuple(Encoders.scalaLong, Encoders.scalaLong)))
    spark.udf.register("top_k3_sim",
      udaf(new TopKSimAgg(3), Encoders.tuple(Encoders.scalaDouble, Encoders.scalaLong)))
    val registry = spark.sessionState.functionRegistry
    registry.createOrReplaceTempFunction("script_type",
      exprs => ScriptTypeExpr(exprs.head), "built-in")
    registry.createOrReplaceTempFunction("decompress_amount",
      exprs => DecompressAmountExpr(exprs.head), "built-in")
    registry.createOrReplaceTempFunction("zorder2",
      exprs => ZOrder2Expr.widened(exprs), "built-in")
    registry.createOrReplaceTempFunction("minhash_sigs",
      exprs => MinHashSigsExpr(exprs.head), "built-in")
    registry.createOrReplaceTempFunction("simhash48",
      exprs => SimHash48Expr(exprs.head, 48), "built-in")
    registry.createOrReplaceTempFunction("simhash60",
      exprs => SimHash48Expr(exprs.head, 60), "built-in")
    registry.createOrReplaceTempFunction("vec_dot",
      exprs => VecDotExpr(exprs.head, exprs(1)), "built-in")
    registry.createOrReplaceTempFunction("vec_dot_i64",
      exprs => VecDotLongExpr(exprs.head, exprs(1)), "built-in")
    registry.createOrReplaceTempFunction("adc_score",
      exprs => AdcScoreExpr(exprs.head, exprs(1)), "built-in")
    registry.createOrReplaceTempFunction("sorted_common",
      exprs => SortedCommonExpr(exprs.head, exprs(1)), "built-in")
    registry.createOrReplaceTempFunction("sorted_common_at_least",
      exprs => SortedCommonAtLeastExpr(exprs.head, exprs(1), exprs(2)), "built-in")
    registry.createOrReplaceTempFunction("quant6",
      exprs => QuantizeMicroExpr(exprs.head), "built-in")
    registry.createOrReplaceTempFunction("quant_nd2",
      exprs => QuantNd2Expr(exprs.head,
        exprs(1).eval().asInstanceOf[Number].intValue(),
        exprs(2).eval().asInstanceOf[Number].intValue(),
        exprs(3), exprs(4)), "built-in")
    registry.createOrReplaceTempFunction("quant_argmin",
      exprs => QuantArgminExpr(exprs.head,
        exprs(1).eval().asInstanceOf[Number].intValue(),
        exprs(2).eval().asInstanceOf[Number].intValue(),
        exprs(3), exprs(4)), "built-in")
    registry.createOrReplaceTempFunction("lsh_sign_bits",
      exprs => LshSignBitsExpr(exprs.head,
        exprs(1).eval().asInstanceOf[Number].intValue()), "built-in")
    registry.createOrReplaceTempFunction("word_shingles",
      exprs => WordShinglesExpr(exprs.head,
        exprs(1).eval().asInstanceOf[Number].intValue()), "built-in")
    registry.createOrReplaceTempFunction("word_chunks",
      exprs => WordChunksExpr(exprs.head,
        exprs(1).eval().asInstanceOf[Number].intValue()), "built-in")
    registry.createOrReplaceTempFunction("shingle_gen",
      exprs => ShingleGenerator(exprs.head,
        exprs(1).eval().asInstanceOf[Number].intValue()), "built-in")
  }

  /** The clustered-convert range router over THIS convert's sampled
    * bounds, built as a column straight from [[ScriptRouteExpr]]: the
    * bounds are per-call data, so nothing is registered on `spark` and
    * two converts on one session never route with each other's bounds.
    */
  def scriptRoute(spark: SparkSession, bounds: Array[Array[Byte]],
      tokens: Array[Int], script: Column): Column =
    GraftInternals.column(ScriptRouteExpr(GraftInternals.expression(script), bounds, tokens))

  /** Column-API forms of the native expressions (resolve through the
    * session registry — call [[register]] first).
    */
  def scriptType(c: Column): Column = call_function("script_type", c)
  def decompressAmount(c: Column): Column = call_function("decompress_amount", c)
  def zorder2(x: Column, y: Column): Column = call_function("zorder2", x, y)
  def minhashSigs(c: Column): Column = call_function("minhash_sigs", c)
  def simhash48(c: Column): Column = call_function("simhash48", c)
  /** Full-width (60-bit) fingerprint — the banded near-dup input since
    * r10; the md5-derived token hash carries exactly 60 bits.
    */
  def simhash60(c: Column): Column = call_function("simhash60", c)
  def lshSignBits(v: Column, nBits: Int): Column =
    call_function("lsh_sign_bits", v, lit(nBits))
  /** Micro-quantize ARRAY<DOUBLE> → ARRAY<BIGINT> (see [[QuantizeMicro]]). */
  def quant6(v: Column): Column = call_function("quant6", v.cast("array<double>"))
  /** Argmin cell over a flattened quantized codebook (see [[QuantArgmin]]). */
  def quantArgmin(q: Column, offset: Int, len: Int,
      centsFlat: Column, cn2: Column): Column =
    call_function("quant_argmin", q, lit(offset), lit(len), centsFlat, cn2)
  /** Per-cell pseudo-distance list (see [[QuantNd2]]). */
  def quantNd2(q: Column, offset: Int, len: Int,
      centsFlat: Column, cn2: Column): Column =
    call_function("quant_nd2", q, lit(offset), lit(len), centsFlat, cn2)
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
