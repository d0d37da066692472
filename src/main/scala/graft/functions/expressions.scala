package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult.DataTypeMismatch
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Cast, Expression, TernaryExpression, UnaryExpression}
// Cast: used by ZOrder2Expr.widened and SortedCommon.widened to accept INT args
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, ByteType, DataType, IntegerType, LongType, ShortType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Native Catalyst expressions for the hot codec-derived scalar
  * functions (SURVEY.md §2.9 E26: "promote hot ones to custom
  * Expression"). Unlike Scala UDFs these stay inside whole-stage
  * codegen — no encoder boundary, no row-at-a-time closure dispatch —
  * which matters when classifying 177M scripts.
  */

/** scriptPubKey classifier (C5 family): BINARY → STRING
  * (p2pkh|p2sh|p2pk|p2wpkh|p2wsh|p2tr|op_return|other).
  */
case class ScriptTypeExpr(child: Expression) extends UnaryExpression {
  override def dataType: DataType = StringType
  override def nullSafeEval(v: Any): Any =
    UTF8String.fromString(graft.codec.ScriptCodec.scriptType(v.asInstanceOf[Array[Byte]]))
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"org.apache.spark.unsafe.types.UTF8String.fromString(" +
        s"graft.codec.ScriptCodec.scriptType($c))")
  override protected def withNewChildInternal(newChild: Expression): ScriptTypeExpr =
    copy(child = newChild)
  override def prettyName: String = "script_type"
}

/** Bit-interleave helpers for Z-order (Morton) clustering keys — the
  * multi-dimension data-clustering layout: sorting by the interleaved
  * code gives row groups that are axis-aligned rectangles in key space,
  * so min/max stats skip on EVERY interleaved dimension, not just the
  * leading sort key.
  */
object Morton {
  /** Spread the low 32 bits of x so original bit i lands at position 2i
    * (the standard O(log w) mask-shift bit twiddle).
    */
  def spread(x: Long): Long = {
    var v = x & 0xFFFFFFFFL
    v = (v | (v << 16)) & 0x0000FFFF0000FFFFL
    v = (v | (v << 8)) & 0x00FF00FF00FF00FFL
    v = (v | (v << 4)) & 0x0F0F0F0F0F0F0F0FL
    v = (v | (v << 2)) & 0x3333333333333333L
    v = (v | (v << 1)) & 0x5555555555555555L
    v
  }

  /** Morton code of (x, y): x's bits on even positions, y's on odd. */
  def interleave2(x: Long, y: Long): Long = spread(x) | (spread(y) << 1)
}

/** Z-order curve key (E26/E35): (BIGINT, BIGINT) → BIGINT Morton code
  * over the low 32 bits of each input. Codegen'd two-instruction call —
  * cheap enough to sort 100 TB by.
  */
case class ZOrder2Expr(left: Expression, right: Expression)
    extends BinaryExpression {
  override def dataType: DataType = LongType
  override def nullSafeEval(x: Any, y: Any): Any =
    Morton.interleave2(x.asInstanceOf[Long], y.asInstanceOf[Long])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"graft.functions.Morton.interleave2($a, $b)")
  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): ZOrder2Expr =
    copy(left = newLeft, right = newRight)
  override def prettyName: String = "zorder2"
}

object ZOrder2Expr {
  /** The key over two integral inputs widened to BIGINT (the
    * expression itself is monomorphic on LongType).
    */
  def widened(x: Expression, y: Expression): ZOrder2Expr =
    ZOrder2Expr(Cast(x, LongType), Cast(y, LongType))

  /** Builder for the SQL function registries: [[widened]] after
    * validating like a built-in — wrong arity or a non-integral
    * argument (DOUBLE/STRING would silently truncate through the Cast)
    * is an analysis-time error, not a runtime exception.
    */
  def validated(exprs: Seq[Expression]): ZOrder2Expr = {
    if (exprs.length != 2)
      throw new org.apache.spark.sql.AnalysisException(
        errorClass = "WRONG_NUM_ARGS.WITHOUT_SUGGESTION",
        messageParameters = Map("functionName" -> "zorder2",
          "expectedNum" -> "2", "actualNum" -> exprs.length.toString,
          "docroot" -> "https://spark.apache.org/docs/latest"))
    exprs.zipWithIndex.foreach { case (e, i) =>
      val ok = !e.resolved || (e.dataType match {
        case org.apache.spark.sql.types.ByteType | org.apache.spark.sql.types.ShortType |
             org.apache.spark.sql.types.IntegerType | org.apache.spark.sql.types.LongType => true
        case _ => false
      })
      if (!ok)
        throw new org.apache.spark.sql.AnalysisException(
          errorClass = "DATATYPE_MISMATCH.UNEXPECTED_INPUT_TYPE",
          messageParameters = Map("sqlExpr" -> s"zorder2(${exprs.mkString(", ")})",
            "paramIndex" -> (i + 1).toString, "requiredType" -> "integral",
            "inputSql" -> e.sql, "inputType" -> e.dataType.sql))
    }
    widened(exprs.head, exprs(1))
  }
}

/** Range-routing support for the globally script-clustered convert
  * (R2/R4): binary-search a script against driver-sampled range bounds
  * and emit the partition-routing token. Kept in a plain object so the
  * generated code calls a static-shaped method, same as [[Morton]].
  */
object ScriptRoute {
  /** Index of the first bound > script (i.e. the script's range bucket),
    * mapped through `tokens` so `repartition(n, pmod(hash(token)))`
    * lands bucket i on partition i (see UtxoConvert's token search).
    */
  def route(script: Array[Byte], bounds: Array[Array[Byte]], tokens: Array[Int]): Int = {
    var lo = 0
    var hi = bounds.length
    while (lo < hi) {
      val mid = (lo + hi) >>> 1
      if (graft.codec.UnsignedBytes(bounds(mid), script) <= 0) lo = mid + 1 else hi = mid
    }
    tokens(lo)
  }
}

/** Script → routing token (E26 discipline: no Scala UDF on a hot path —
  * this runs once per row of every clustered convert). The bounds and
  * token table ride along as codegen reference objects, so the
  * projection stays inside whole-stage codegen.
  */
case class ScriptRouteExpr(child: Expression,
    bounds: Array[Array[Byte]], tokens: Array[Int]) extends UnaryExpression {
  override def dataType: DataType = IntegerType
  override def nullSafeEval(v: Any): Any =
    ScriptRoute.route(v.asInstanceOf[Array[Byte]], bounds, tokens)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val b = ctx.addReferenceObj("routeBounds", bounds, "byte[][]")
    val t = ctx.addReferenceObj("routeTokens", tokens, "int[]")
    defineCodeGen(ctx, ev, c => s"graft.functions.ScriptRoute.route($c, $b, $t)")
  }
  override protected def withNewChildInternal(newChild: Expression): ScriptRouteExpr =
    copy(child = newChild)
  override def prettyName: String = "script_route"
}

/** MinHash signature kernel (X2 hot path): all 16 permutation minima
  * over a document's word 3-shingles in ONE per-row pass. Replaces the
  * explode + 16-min groupBy signature build with identical arithmetic
  * (portable md5-derived 60-bit hash → mod 2³¹-1 → (a·h+b) mod P
  * minima over the same space-split shingles) but zero row expansion
  * and zero shuffle: the signature stage of the near-dup pipeline
  * becomes map-only, which is the difference between shuffling ~L rows
  * per document and none at 100 TB. The shingle hash is
  * [[SimHash48.md5h60]] — the same function as the engine's `hash64`
  * (`conv(substring(md5(s),1,15),16,10)`) and DuckDB's
  * `('0x' || substr(md5(s),1,15))::BIGINT` — which is what makes every
  * MinHash consumer, INCLUDING the banded LSH candidate join
  * (`x_minhash_lsh`) and the four graph operators that ride it,
  * fully oracle-expressible in DuckDB (the simhash48 discipline:
  * xxhash64 would be ~5× cheaper per shingle but has no DuckDB twin;
  * candidates that can't be cross-checked are worth less than the
  * cycles they save). Static-shaped kernel so the generated code is
  * one call per row (same discipline as [[Morton]]/[[ScriptRoute]]);
  * the earlier higher-order-function rewrite lost 1.5× to
  * CodegenFallback per-element interpretation — this stays in
  * whole-stage codegen.
  */
object MinHashSig {
  private val P = GraftFunctions.MinhashP
  private val SPACE = UTF8String.fromString(" ")
  private val A: Array[Long] = GraftFunctions.permCoeffs(16).map(_._1).toArray
  private val B: Array[Long] = GraftFunctions.permCoeffs(16).map(_._2).toArray

  /** null when the text has fewer than 3 tokens — mirrors the aggregate
    * form, where explode of an empty shingle array drops the document.
    */
  def sigs(text: UTF8String): org.apache.spark.sql.catalyst.util.ArrayData = {
    val toks = text.split(SPACE, -1)
    val nSh = toks.length - 2
    if (nSh <= 0) return null
    val mins = new Array[Long](16)
    java.util.Arrays.fill(mins, Long.MaxValue)
    var i = 0
    while (i < nSh) {
      val sh = UTF8String.concatWs(SPACE, toks(i), toks(i + 1), toks(i + 2))
      // md5h60 is non-negative (top nibble dropped), so plain % is pmod
      val h = SimHash48.md5h60(sh) % P
      var j = 0
      while (j < 16) {
        val v = (A(j) * h + B(j)) % P
        if (v < mins(j)) mins(j) = v
        j += 1
      }
      i += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(mins)
  }
}

/** minhash_sigs (X2): STRING → ARRAY<BIGINT> (16 permutation minima),
  * null for texts with fewer than 3 tokens. See [[MinHashSig.sigs]].
  */
case class MinHashSigsExpr(child: Expression) extends UnaryExpression {
  override def dataType: DataType =
    org.apache.spark.sql.types.ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = true
  override def nullSafeEval(v: Any): Any =
    MinHashSig.sigs(v.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => s"""
      ${ev.value} = graft.functions.MinHashSig.sigs($c);
      ${ev.isNull} = ${ev.value} == null;
    """)
  override protected def withNewChildInternal(newChild: Expression): MinHashSigsExpr =
    copy(child = newChild)
  override def prettyName: String = "minhash_sigs"
}

/** SimHash fingerprint kernel (X2b hot path): the nBits-wide weighted
  * token-majority fingerprint in ONE per-row pass, packed into a LONG
  * (bit b of the result = majority of bit b over the per-token
  * md5-derived [[SimHash48.md5h60]] hashes, term frequency = weight —
  * identical semantics to the per-bit-accumulator aggregate form, minus
  * the token explode + shuffle). Width is a parameter since r10:
  * `x_simhash` keeps the 48-bit rendered signature it has always
  * oracled, while the banded near-dup uses the hash's FULL 60 bits —
  * 4×15-bit bands = 32,768 buckets per band instead of the 4,096 whose
  * n/4096 occupancy made within-bucket candidate pairs grow ~n²
  * (measured 45× wall at 10× rows, the r9 verdict's one `weak`).
  * Long fingerprints also buy the downstream wins: band b is
  * `(fp >> wb) & mask` (two codegen'd ALU ops vs substring) and
  * hamming is `bit_count(a ^ b)` (one POPCNT vs an interpreted
  * zip_with fold over per-char arrays).
  */
object SimHash48 {
  private val SPACE = UTF8String.fromString(" ")

  private val md5Local = new ThreadLocal[java.security.MessageDigest] {
    override def initialValue(): java.security.MessageDigest =
      java.security.MessageDigest.getInstance("MD5")
  }

  /** Per-token 60-bit hash: the first 15 hex chars of md5 as an
    * integer — i.e. the digest's first 8 bytes big-endian, >>> 4.
    * Identical to the engine's portable `hash64`
    * (`conv(substring(md5(c), 1, 15), 16, 10)`) and DuckDB's
    * `('0x' || substr(md5(tok), 1, 15))::BIGINT`, which keeps every
    * simhash consumer — including the banded near-dup join — fully
    * oracle-expressible. (xxhash64 would be ~5× cheaper per token but
    * has no DuckDB twin; fingerprints that can't be cross-checked are
    * worth less than the cycles they save.)
    */
  def md5h60(t: UTF8String): Long = {
    val md = md5Local.get()
    md.reset()
    val d = md.digest(t.getBytes)
    var v = 0L
    var i = 0
    while (i < 8) { v = (v << 8) | (d(i) & 0xffL); i += 1 }
    v >>> 4
  }

  def fingerprint(text: UTF8String, nBits: Int): Long = {
    val toks = text.split(SPACE, -1)
    val counts = new Array[Int](nBits)
    var i = 0
    while (i < toks.length) {
      val h = md5h60(toks(i))
      var b = 0
      while (b < nBits) {
        counts(b) += ((h >>> b) & 1L).toInt
        b += 1
      }
      i += 1
    }
    var fp = 0L
    var b = 0
    while (b < nBits) {
      if (2 * counts(b) > toks.length) fp |= (1L << b)
      b += 1
    }
    fp
  }
}

/** simhash48/simhash60 (X2b): STRING → BIGINT fingerprint of `nBits`
  * (≤ 60 — the md5h60 token hash has no more). See
  * [[SimHash48.fingerprint]].
  */
case class SimHash48Expr(child: Expression, nBits: Int = 48) extends UnaryExpression {
  require(nBits >= 1 && nBits <= 60, s"simhash width $nBits outside 1..60")
  override def dataType: DataType = LongType
  override def nullSafeEval(v: Any): Any =
    SimHash48.fingerprint(v.asInstanceOf[UTF8String], nBits)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.SimHash48.fingerprint($c, $nBits)")
  override protected def withNewChildInternal(newChild: Expression): SimHash48Expr =
    copy(child = newChild)
  override def prettyName: String = s"simhash$nBits"
}

/** Float-vector dot product kernel (X3/X17 hot path): sequential
  * left-to-right double accumulation over ARRAY<FLOAT> pairs — the
  * EXACT IEEE operation order of the portable higher-order-function
  * fold (`aggregate(zip_with(...))`, GraftFunctions.dot), so results
  * are bitwise-identical to the DuckDB oracle's `list_sum` fold, but
  * the loop runs inside whole-stage codegen instead of per-element
  * interpreted lambda dispatch (HOFs are CodegenFallback). Every
  * pairwise similarity in the ANN/kNN family funnels through this.
  * Mismatched lengths yield null (zip_with pads with null, which
  * nulls the fold); null ELEMENTS are out of contract (embeddings are
  * dense) — kept cheap on purpose.
  */
object VecDot {
  def dot(a: org.apache.spark.sql.catalyst.util.ArrayData,
      b: org.apache.spark.sql.catalyst.util.ArrayData): java.lang.Double = {
    val n = a.numElements()
    if (n != b.numElements()) return null
    var acc = 0.0
    var i = 0
    while (i < n) {
      acc += a.getFloat(i).toDouble * b.getFloat(i).toDouble
      i += 1
    }
    java.lang.Double.valueOf(acc)
  }
}

/** vec_dot (X3): (ARRAY<FLOAT>, ARRAY<FLOAT>) → DOUBLE. See [[VecDot]]. */
case class VecDotExpr(left: Expression, right: Expression)
    extends BinaryExpression {
  override def dataType: DataType = org.apache.spark.sql.types.DoubleType
  override def nullable: Boolean = true
  override def nullSafeEval(a: Any, b: Any): Any = {
    val r = VecDot.dot(
      a.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData],
      b.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData])
    if (r == null) null else r.doubleValue()
  }
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => s"""
      java.lang.Double ${ev.value}_r = graft.functions.VecDot.dot($a, $b);
      ${ev.isNull} = ${ev.value}_r == null;
      ${ev.value} = ${ev.isNull} ? 0.0 : ${ev.value}_r.doubleValue();
    """)
  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): VecDotExpr =
    copy(left = newLeft, right = newRight)
  override def prettyName: String = "vec_dot"
}

/** Integer-vector dot product kernel (X3 SQ8 hot path): same contract
  * as [[VecDot]] but over ARRAY<BIGINT> with 64-bit wrapping adds —
  * identical to the non-ANSI `aggregate(zip_with(a,b,x*y),0L,+)` fold
  * and to DuckDB's BIGINT arithmetic at the oracle's value range.
  */
object VecDotLong {
  def dot(a: org.apache.spark.sql.catalyst.util.ArrayData,
      b: org.apache.spark.sql.catalyst.util.ArrayData): java.lang.Long = {
    val n = a.numElements()
    if (n != b.numElements()) return null
    var acc = 0L
    var i = 0
    while (i < n) {
      acc += a.getLong(i) * b.getLong(i)
      i += 1
    }
    java.lang.Long.valueOf(acc)
  }
}

/** vec_dot_i64 (X3): (ARRAY<BIGINT>, ARRAY<BIGINT>) → BIGINT. */
case class VecDotLongExpr(left: Expression, right: Expression)
    extends BinaryExpression {
  override def dataType: DataType = LongType
  override def nullable: Boolean = true
  override def nullSafeEval(a: Any, b: Any): Any = {
    val r = VecDotLong.dot(
      a.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData],
      b.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData])
    if (r == null) null else r.longValue()
  }
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => s"""
      java.lang.Long ${ev.value}_r = graft.functions.VecDotLong.dot($a, $b);
      ${ev.isNull} = ${ev.value}_r == null;
      ${ev.value} = ${ev.isNull} ? 0L : ${ev.value}_r.longValue();
    """)
  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): VecDotLongExpr =
    copy(left = newLeft, right = newRight)
  override def prettyName: String = "vec_dot_i64"
}

/** ADC (asymmetric-distance) PQ score kernel (X29 hot path): given a
  * candidate's `m` product-quantizer codes and the query's flattened
  * lookup table (`m × stride` partial dot products, entry `j·stride +
  * code` = ⟨query subvector j, codebook j centroid code⟩), the ADC
  * score is the sum of the candidate's m table hits. Replaces the
  * r6 shape — `posexplode(codes)` ⋈ broadcast LUT ⋈ groupBy-sum —
  * which multiplied every (query, candidate) row by m through a join
  * and a hash aggregate (640M intermediate rows at 1M vectors /
  * nprobe=4); here the same sum is m array lookups inside whole-stage
  * codegen on the un-exploded row. Accumulation order is fixed
  * (j ascending), so scores are deterministic.
  */
object AdcScore {
  def score(codes: org.apache.spark.sql.catalyst.util.ArrayData,
      lut: org.apache.spark.sql.catalyst.util.ArrayData): java.lang.Double = {
    val m = codes.numElements()
    if (m == 0 || lut.numElements() % m != 0) return null
    val stride = lut.numElements() / m
    var acc = 0.0
    var j = 0
    while (j < m) {
      val c = codes.getInt(j)
      if (c < 0 || c >= stride) return null
      acc += lut.getDouble(j * stride + c)
      j += 1
    }
    java.lang.Double.valueOf(acc)
  }
}

/** adc_score (X29): (ARRAY<INT> codes, ARRAY<DOUBLE> lut) → DOUBLE. */
case class AdcScoreExpr(left: Expression, right: Expression)
    extends BinaryExpression {
  override def dataType: DataType = org.apache.spark.sql.types.DoubleType
  override def nullable: Boolean = true
  override def nullSafeEval(a: Any, b: Any): Any = {
    val r = AdcScore.score(
      a.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData],
      b.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData])
    if (r == null) null else r.doubleValue()
  }
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => s"""
      java.lang.Double ${ev.value}_r = graft.functions.AdcScore.score($a, $b);
      ${ev.isNull} = ${ev.value}_r == null;
      ${ev.value} = ${ev.isNull} ? 0.0 : ${ev.value}_r.doubleValue();
    """)
  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): AdcScoreExpr =
    copy(left = newLeft, right = newRight)
  override def prettyName: String = "adc_score"
}

/** Micro-quantization kernel (X3/X29 hot path): floor(x·1e6 + 0.5)
  * per element as BIGINT — element-for-element identical to the HOF
  * `transform(v, x -> CAST(floor(CAST(x AS DOUBLE) * 1000000.0 + 0.5)
  * AS BIGINT))` and the oracle's list_transform clause, but one
  * compiled loop instead of an interpreted lambda per element (at 1M
  * corpus vectors × 64 dims the HOF quantization alone was a
  * double-digit-seconds stage).
  */
object QuantizeMicro {
  def quantize(v: org.apache.spark.sql.catalyst.util.ArrayData)
      : org.apache.spark.sql.catalyst.util.ArrayData = {
    val n = v.numElements()
    val out = new Array[Long](n)
    var i = 0
    while (i < n) {
      out(i) = math.floor(v.getDouble(i) * 1000000.0 + 0.5).toLong
      i += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }
}

/** quant6 (X3/X29): ARRAY<DOUBLE> → ARRAY<BIGINT>. */
case class QuantizeMicroExpr(child: Expression) extends UnaryExpression {
  override def dataType: DataType =
    org.apache.spark.sql.types.ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = child.nullable
  override def nullSafeEval(v: Any): Any =
    QuantizeMicro.quantize(
      v.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, v =>
      s"${ev.value} = graft.functions.QuantizeMicro.quantize($v);")
  override protected def withNewChildInternal(newChild: Expression): QuantizeMicroExpr =
    copy(child = newChild)
  override def prettyName: String = "quant6"
}

/** Integer argmin-cell kernel (X3/X29 assignment hot path): the cell
  * whose quantized centroid minimizes |q−c|² over a sub-range of the
  * quantized vector, via the pseudo-distance nd2(c) = |c|² − 2·q·c
  * (the q² term is constant per row). First strict minimum wins —
  * exactly `array_position(nd2s, array_min(nd2s)) - 1` and the
  * oracle's `list_position(nd2, list_min(nd2)) - 1`. Replaces the
  * zip_with/aggregate HOF form for CANDIDATE assignment: higher-order
  * functions are interpreted per element, and at the 1M-vector proof's
  * index parameters (k=500 coarse cells × 64 dims = 32K boxed ops per
  * row) the HOF assignment ran 36× slower than r7's ML transform
  * (LargeAnnBench r8: ann_ivf_p4 455 s); this kernel is the same
  * integer arithmetic as one tight loop inside whole-stage codegen.
  * `cents` is the k×len codebook FLATTENED row-major; `cn2` its
  * squared norms. Returns null on inconsistent shapes.
  */
object QuantArgmin {
  def eval(q: org.apache.spark.sql.catalyst.util.ArrayData,
      off: Int, len: Int,
      cents: org.apache.spark.sql.catalyst.util.ArrayData,
      cn2: org.apache.spark.sql.catalyst.util.ArrayData): java.lang.Integer = {
    val k = cn2.numElements()
    if (k == 0 || len <= 0 || cents.numElements() != k.toLong * len ||
        off < 0 || off.toLong + len > q.numElements()) return null
    var best = Long.MaxValue
    var bestC = -1
    var c = 0
    while (c < k) {
      val base = c * len
      var dot = 0L
      var i = 0
      while (i < len) {
        dot += q.getLong(off + i) * cents.getLong(base + i)
        i += 1
      }
      val nd2 = cn2.getLong(c) - 2L * dot
      if (nd2 < best) { best = nd2; bestC = c }
      c += 1
    }
    java.lang.Integer.valueOf(bestC)
  }
}

/** Pseudo-distance LIST companion to [[QuantArgmin]] (the probe side
  * needs the full per-cell nd2 vector for top-nprobe ranking, not just
  * the min): nd2(c) = |c|² − 2·q·c for every cell, one compiled loop.
  */
object QuantNd2 {
  def eval(q: org.apache.spark.sql.catalyst.util.ArrayData,
      off: Int, len: Int,
      cents: org.apache.spark.sql.catalyst.util.ArrayData,
      cn2: org.apache.spark.sql.catalyst.util.ArrayData)
      : org.apache.spark.sql.catalyst.util.ArrayData = {
    val k = cn2.numElements()
    if (k == 0 || len <= 0 || cents.numElements() != k.toLong * len ||
        off < 0 || off.toLong + len > q.numElements()) return null
    val out = new Array[Long](k)
    var c = 0
    while (c < k) {
      val base = c * len
      var dot = 0L
      var i = 0
      while (i < len) {
        dot += q.getLong(off + i) * cents.getLong(base + i)
        i += 1
      }
      out(c) = cn2.getLong(c) - 2L * dot
      c += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }
}

/** quant_nd2 (X3/X29): same signature as quant_argmin → ARRAY<BIGINT>. */
case class QuantNd2Expr(q: Expression, offset: Int, len: Int,
    cents: Expression, cn2: Expression)
    extends org.apache.spark.sql.catalyst.expressions.TernaryExpression {
  override def first: Expression = q
  override def second: Expression = cents
  override def third: Expression = cn2
  override def dataType: DataType =
    org.apache.spark.sql.types.ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = true
  override def nullSafeEval(a: Any, b: Any, c: Any): Any =
    QuantNd2.eval(
      a.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData], offset, len,
      b.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData],
      c.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b, c) => s"""
      ${ev.value} = graft.functions.QuantNd2.eval($a, $offset, $len, $b, $c);
      ${ev.isNull} = ${ev.value} == null;
    """)
  override protected def withNewChildrenInternal(
      newFirst: Expression, newSecond: Expression,
      newThird: Expression): QuantNd2Expr =
    copy(q = newFirst, cents = newSecond, cn2 = newThird)
  override def prettyName: String = "quant_nd2"
}

/** quant_argmin (X3/X29): (ARRAY<BIGINT> q, off, len, ARRAY<BIGINT>
  * centsFlat, ARRAY<BIGINT> cn2) → INT. `off`/`len` are literal
  * constructor parameters (the sub-range is fixed per plan); the
  * codebooks ride as literal array children — constant-folded once,
  * never rebuilt per row.
  */
case class QuantArgminExpr(q: Expression, offset: Int, len: Int,
    cents: Expression, cn2: Expression)
    extends org.apache.spark.sql.catalyst.expressions.TernaryExpression {
  override def first: Expression = q
  override def second: Expression = cents
  override def third: Expression = cn2
  override def dataType: DataType = IntegerType
  override def nullable: Boolean = true
  override def nullSafeEval(a: Any, b: Any, c: Any): Any = {
    val r = QuantArgmin.eval(
      a.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData], offset, len,
      b.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData],
      c.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData])
    if (r == null) null else r.intValue()
  }
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b, c) => s"""
      java.lang.Integer ${ev.value}_r =
        graft.functions.QuantArgmin.eval($a, $offset, $len, $b, $c);
      ${ev.isNull} = ${ev.value}_r == null;
      ${ev.value} = ${ev.isNull} ? -1 : ${ev.value}_r.intValue();
    """)
  override protected def withNewChildrenInternal(
      newFirst: Expression, newSecond: Expression,
      newThird: Expression): QuantArgminExpr =
    copy(q = newFirst, cents = newSecond, cn2 = newThird)
  override def prettyName: String = "quant_argmin"
}

/** Sorted-set intersection count kernel (X2/X6/X19 exact-verify hot
  * path): two ASCENDING-sorted arrays → |a∩b| by a single
  * allocation-free merge walk. Replaces `size(array_intersect(a, b))`
  * in the Jaccard verify stage: ArrayIntersect/ArrayUnion are
  * interpreted (`nullSafeEval` + a fresh hash set per ROW) — at sf1
  * the PPJoin verify spent its entire 15-minute wall inside them
  * (jstack-sampled), while this kernel is O(n+m) comparisons inside
  * whole-stage codegen. With distinct sets, |a∪b| = |a|+|b|−|a∩b|, so
  * the count is the only array work the verify needs. Inputs MUST be
  * sorted (callers `array_sort` once per document, not per pair);
  * unsorted inputs undercount — kept cheap on purpose, like VecDot's
  * length contract. Two merges, STRING and BIGINT, the one to run
  * chosen when the plan is built, never per row; [[checkInputs]]
  * makes any other pair of inputs an analysis error.
  */
object SortedCommon {
  def count(a: ArrayData, b: ArrayData): Int = countAtLeast(a, b, 0)

  /** ARRAY<BIGINT> merge — the exact-Jaccard verify path, whose
    * dictionary keys are packed longs (see `QueriesLLM.shingleKey`):
    * longs compare without touching UTF8 bytes.
    */
  def countLong(a: ArrayData, b: ArrayData): Int = countAtLeastLong(a, b, 0)

  /** Threshold-aware merge (r13): EXACT |a∩b| whenever the true count
    * can still reach `need`; the moment c + min(remaining) < need —
    * i.e. reaching `need` has become IMPOSSIBLE — it returns the
    * partial c (< need, so any `>= need`-monotone filter rejects the
    * pair exactly as the true count would). Callers MUST (1) derive
    * `need` as a LOWER bound of their keep threshold (round down, eps
    * slack) and (2) not expose the count of rejected rows — both hold
    * in the Jaccard verify, whose output keeps only the pair columns
    * and whose ratio filter is strictly increasing in the count. On
    * the sf1 verify (87M candidate pairs, ~28-element sets, τ = 0.2 ⇒
    * need ≈ 10) most pairs exit a third of the way through the merge
    * instead of walking both arrays to the end. `need` ≤ 0 never exits
    * early, so it is the plain count.
    */
  def countAtLeast(a: ArrayData, b: ArrayData, need: Int): Int = {
    val n = a.numElements()
    val m = b.numElements()
    var i = 0
    var j = 0
    var c = 0
    while (i < n && j < m) {
      // remaining possible matches: min of what is left on each side
      val rem = if (n - i < m - j) n - i else m - j
      if (c + rem < need) return c
      val cmp = a.getUTF8String(i).compareTo(b.getUTF8String(j))
      if (cmp == 0) { c += 1; i += 1; j += 1 }
      else if (cmp < 0) i += 1
      else j += 1
    }
    c
  }

  /** ARRAY<BIGINT> form of [[countAtLeast]]. Same early-exit contract. */
  def countAtLeastLong(a: ArrayData, b: ArrayData, need: Int): Int = {
    val n = a.numElements()
    val m = b.numElements()
    var i = 0
    var j = 0
    var c = 0
    while (i < n && j < m) {
      val rem = if (n - i < m - j) n - i else m - j
      if (c + rem < need) return c
      val x = a.getLong(i)
      val y = b.getLong(j)
      if (x == y) { c += 1; i += 1; j += 1 }
      else if (x < y) i += 1
      else j += 1
    }
    c
  }

  /** Whether an input type that passed [[checkInputs]] takes the
    * BIGINT merge (else the STRING one).
    */
  def isLong(t: DataType): Boolean = t match {
    case ArrayType(LongType, _) => true
    case _ => false
  }

  /** The SQL builders' form of an argument: an ARRAY<TINYINT|SMALLINT|INT>
    * is read as ARRAY<BIGINT> (widening keeps the sort order), so the one
    * integral merge serves every integral element type. Anything else
    * passes unchanged, for [[checkInputs]] to judge.
    */
  def widened(e: Expression): Expression = if (!e.resolved) e else e.dataType match {
    case ArrayType(ByteType | ShortType | IntegerType, nulls) => Cast(e, ArrayType(LongType, nulls))
    case _ => e
  }

  /** Both expressions' analysis-time check: the two arrays share one
    * element type, STRING or BIGINT, and a third argument (`need`) is
    * an INT. Without it an ARRAY<BIGINT> against an ARRAY<INT> would
    * read 4-byte elements as 8-byte ones, past the array's data.
    */
  def checkInputs(args: Seq[Expression]): TypeCheckResult = {
    def element(e: Expression): Option[DataType] = e.dataType match {
      case ArrayType(t, _) if t == StringType || t == LongType => Some(t)
      case _ => None
    }
    def mismatch(i: Int, required: String): TypeCheckResult = DataTypeMismatch(
      "UNEXPECTED_INPUT_TYPE", Map("paramIndex" -> Seq("first", "second", "third")(i),
        "requiredType" -> required, "inputSql" -> s"\"${args(i).sql}\"",
        "inputType" -> s"\"${args(i).dataType.sql}\""))
    val want = element(args.head)
    if (want.isEmpty) mismatch(0, "(\"ARRAY<STRING>\" or \"ARRAY<BIGINT>\")")
    else if (element(args(1)) != want) mismatch(1, s"\"ARRAY<${want.get.sql}>\"")
    else if (args.length > 2 && args(2).dataType != IntegerType) mismatch(2, "\"INT\"")
    else TypeCheckResult.TypeCheckSuccess
  }
}

/** sorted_common (X2): (sorted ARRAY<STRING|BIGINT>, same type) → INT
  * via the [[SortedCommon]] merge for the element type.
  */
case class SortedCommonExpr(left: Expression, right: Expression)
    extends BinaryExpression {
  override def dataType: DataType = IntegerType
  override def checkInputDataTypes(): TypeCheckResult = SortedCommon.checkInputs(children)
  private lazy val isLong = SortedCommon.isLong(left.dataType)
  override def nullSafeEval(a: Any, b: Any): Any = {
    val (x, y) = (a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])
    if (isLong) SortedCommon.countLong(x, y) else SortedCommon.count(x, y)
  }
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val m = if (isLong) "countLong" else "count"
    defineCodeGen(ctx, ev, (a, b) => s"graft.functions.SortedCommon.$m($a, $b)")
  }
  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): SortedCommonExpr =
    copy(left = newLeft, right = newRight)
  override def prettyName: String = "sorted_common"
}

/** sorted_common_at_least (X2, r13): (sorted ARRAY<STRING|BIGINT>,
  * same type, INT need) → INT via [[SortedCommon.countAtLeast]] or its
  * BIGINT form — the early-exit merge for `>= need`-monotone verify
  * filters (see the kernel's caller contract).
  */
case class SortedCommonAtLeastExpr(first: Expression, second: Expression,
    third: Expression) extends TernaryExpression {
  override def dataType: DataType = IntegerType
  override def nullIntolerant: Boolean = true
  override def checkInputDataTypes(): TypeCheckResult = SortedCommon.checkInputs(children)
  private lazy val isLong = SortedCommon.isLong(first.dataType)
  override def nullSafeEval(a: Any, b: Any, need: Any): Any = {
    val (x, y, k) = (a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData], need.asInstanceOf[Int])
    if (isLong) SortedCommon.countAtLeastLong(x, y, k) else SortedCommon.countAtLeast(x, y, k)
  }
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val m = if (isLong) "countAtLeastLong" else "countAtLeast"
    defineCodeGen(ctx, ev,
      (a, b, k) => s"graft.functions.SortedCommon.$m($a, $b, $k)")
  }
  override protected def withNewChildrenInternal(newFirst: Expression,
      newSecond: Expression, newThird: Expression): SortedCommonAtLeastExpr =
    copy(first = newFirst, second = newSecond, third = newThird)
  override def prettyName: String = "sorted_common_at_least"
}

/** Sign-LSH plane projections (X3 scale path #1): all `nBits`
  * pseudo-hyperplane sign bits of a float vector in one pass. Plane
  * p's element j is the sin(k²) family (k = p·64 + j + 1; see
  * [[LshSignBits.weights]] for why the quadratic Weyl argument) —
  * QUANTIZED to integer micro-units since r7, so every projection is
  * an exact BIGINT sum: bit-reproducible in any engine that can
  * multiply integers, which is what lets the DuckDB oracle replicate
  * the full banding pipeline with the weights embedded as SQL
  * literals (no cross-engine `sin`/float-fold parity needed anywhere).
  * ExpressionSpec pins the kernel against the integer HOF fold; the
  * 24-fold interpreted per-plane evaluation collapses into one
  * codegen'd loop nest.
  */
object LshSignBits {
  /** Quantization scale: plane weights AND vector elements are floored
    * to integer micro-units, so every sign decision is exact BIGINT
    * arithmetic — which is what makes the whole LSH banding pipeline
    * DuckDB-expressible (the r7 oracle promotion; the r6 md5-shingle
    * discipline applied to vectors). Quantized elements clamp to
    * [[ClampQ]] so the sum is overflow-free for ANY input, not just
    * normalized embeddings (see the fold in [[bits]]).
    */
  val Scale = 1000000.0

  /** Clamp bound for quantized vector elements (±1e8 ⇒ |x| ≤ 100). */
  val ClampQ = 100000000L

  private val weightCache =
    new java.util.concurrent.ConcurrentHashMap[Integer, Array[Long]]()

  /** Integer plane weights, `nBits` planes × 64 dims flattened: entry
    * p·64+j = floor(sin(k²)·1e6 + 0.5), k = p·64+j+1 — the QUADRATIC
    * (Weyl) argument matters: sin(c_p + j) (the original affine form)
    * is sin(j)·cos(c_p) + cos(j)·sin(c_p), so every "hyperplane" lived
    * in the same 2-D subspace and all nBits encoded only a 2-D
    * projection of the vector — more tables bought ~no recall
    * (LargeAnnBench measured 0.45 → 0.48 going 4 → 8 tables). k² mod
    * 2π equidistributes, giving effectively independent pseudo-random
    * planes. Exposed so the DuckDB oracle embeds the SAME integers as
    * SQL literals (no cross-engine `sin` in any sign decision).
    */
  def weights(nBits: Int): Array[Long] =
    weightCache.computeIfAbsent(nBits, _ => {
      val w = new Array[Long](nBits * 64)
      var i = 0
      while (i < w.length) {
        val k = (i + 1).toDouble
        w(i) = math.floor(java.lang.Math.sin(k * k) * Scale + 0.5).toLong
        i += 1
      }
      w
    })

  def bits(v: org.apache.spark.sql.catalyst.util.ArrayData,
      nBits: Int): org.apache.spark.sql.catalyst.util.ArrayData = {
    val out = new Array[Int](nBits)
    val w = weights(nBits)
    // clamp at the vector's actual length: an UnsafeArrayData read past
    // numElements is silent garbage, not an error — a short embedding
    // must degrade to zero contributions (the HOF form's semantics),
    // never to nondeterministic hash bits
    val dim = math.min(64, v.numElements())
    var p = 0
    while (p < nBits) {
      var acc = 0L
      var j = 0
      while (j < dim) {
        // quantized elements clamp to ±1e8 (|x| ≤ 100 — far beyond any
        // normalized embedding) so the 64-term sum is bounded by
        // 64·1e8·1e6 = 6.4e15 < 2^63: the sign fold can never silently
        // wrap Long even on un-normalized input. The oracle SQL applies
        // the identical LEAST/GREATEST clamp.
        val vq0 = math.floor(v.getFloat(j).toDouble * Scale + 0.5).toLong
        val vq = if (vq0 > ClampQ) ClampQ else if (vq0 < -ClampQ) -ClampQ else vq0
        acc += vq * w(p * 64 + j)
        j += 1
      }
      out(p) = if (acc >= 0) 1 else 0
      p += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }
}

/** lsh_sign_bits (X3): (ARRAY<FLOAT>, nBits literal) → ARRAY<INT>. */
case class LshSignBitsExpr(child: Expression, nBits: Int)
    extends UnaryExpression {
  override def dataType: DataType =
    org.apache.spark.sql.types.ArrayType(IntegerType, containsNull = false)
  override def nullSafeEval(v: Any): Any =
    LshSignBits.bits(
      v.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData], nBits)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.LshSignBits.bits($c, $nBits)")
  override protected def withNewChildInternal(newChild: Expression): LshSignBitsExpr =
    copy(child = newChild)
  override def prettyName: String = "lsh_sign_bits"
}

/** Word k-shingle kernel (X2/X9 hot path): the array of n−k+1
  * space-joined k-grams in one pass — same output strings as the HOF
  * form (`transform(sequence(...), i -> concat_ws(' ', slice(toks,
  * i+1, k)))`, GraftFunctions.shingles' original shape) and the DuckDB
  * `list_transform` oracle mirror, including the empty array for texts
  * with fewer than k tokens. String construction per shingle is
  * unavoidable either way; what the kernel removes is the interpreted
  * per-element lambda dispatch of transform+slice (CodegenFallback) on
  * every near-dup/decontamination/collocation scan.
  */
object WordShingles {
  private[functions] val SPACE = UTF8String.fromString(" ")

  /** Space-split tokens — the shared tokenization of every shingle
    * consumer (array kernel + streaming Generator), so the two can't
    * drift and neither allocates separator constants per row.
    */
  private[functions] def tokens(text: UTF8String): Array[UTF8String] =
    text.split(SPACE, -1)

  /** The i-th k-shingle over `toks` (space-joined token run). */
  private[functions] def shingleAt(toks: Array[UTF8String], i: Int, k: Int): UTF8String =
    UTF8String.concatWs(SPACE, java.util.Arrays.copyOfRange(toks, i, i + k): _*)

  def shingles(text: UTF8String, k: Int): org.apache.spark.sql.catalyst.util.ArrayData = {
    val toks = tokens(text)
    val n = toks.length - k + 1
    if (n <= 0)
      return new org.apache.spark.sql.catalyst.util.GenericArrayData(Array.empty[Any])
    val out = new Array[Any](n)
    var i = 0
    while (i < n) {
      out(i) = shingleAt(toks, i, k)
      i += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }
}

/** Non-overlapping word chunks (X15 hot path): ceil(n/k) space-joined
  * runs of up to k tokens — same strings as the
  * `transform(sequence(...), i -> concat_ws(' ', slice(words, i·k+1,
  * k)))` HOF build (including the final short chunk and the single
  * empty chunk for empty text), one codegen pass.
  */
object WordChunks {
  private val SPACE = UTF8String.fromString(" ")

  def chunks(text: UTF8String, k: Int): org.apache.spark.sql.catalyst.util.ArrayData = {
    val toks = text.split(SPACE, -1)
    val n = (toks.length + k - 1) / k
    val out = new Array[Any](n)
    var i = 0
    while (i < n) {
      out(i) = UTF8String.concatWs(SPACE, java.util.Arrays.copyOfRange(
        toks, i * k, math.min(i * k + k, toks.length)): _*)
      i += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }
}

/** word_chunks (X15): (STRING, k literal) → ARRAY<STRING>. */
case class WordChunksExpr(child: Expression, k: Int) extends UnaryExpression {
  override def dataType: DataType =
    org.apache.spark.sql.types.ArrayType(StringType, containsNull = false)
  override def nullSafeEval(v: Any): Any =
    WordChunks.chunks(v.asInstanceOf[UTF8String], k)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.WordChunks.chunks($c, $k)")
  override protected def withNewChildInternal(newChild: Expression): WordChunksExpr =
    copy(child = newChild)
  override def prettyName: String = "word_chunks"
}

/** word_shingles (X2): (STRING, k literal) → ARRAY<STRING>. */
case class WordShinglesExpr(child: Expression, k: Int) extends UnaryExpression {
  override def dataType: DataType =
    org.apache.spark.sql.types.ArrayType(StringType, containsNull = false)
  override def nullSafeEval(v: Any): Any =
    WordShingles.shingles(v.asInstanceOf[UTF8String], k)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.WordShingles.shingles($c, $k)")
  override protected def withNewChildInternal(newChild: Expression): WordShinglesExpr =
    copy(child = newChild)
  override def prettyName: String = "word_shingles"
}

/** Native generator UDTF (E70): emit word k-shingles as ROWS without
  * ever materializing the per-document shingle ARRAY —
  * `explode(word_shingles(text, k))` builds an n-element array per row
  * before the Generate operator copies it out again; a long document
  * allocates its whole shingle set at once. This Generator streams one
  * shingle at a time from a lazily-advanced iterator, so peak memory
  * per row is ONE shingle regardless of document length — the 100 TB
  * outlier-document insurance. Plan-level extension tier (c): a custom
  * Generator under GenerateExec (`GraftFunctions.shingleRows`, or
  * `shingle_gen` in SQL); output rows are identical to the explode
  * form (spec-pinned).
  */
case class ShingleGenerator(child: Expression, k: Int)
    extends UnaryExpression
    with org.apache.spark.sql.catalyst.expressions.Generator
    with org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback {
  override def elementSchema: org.apache.spark.sql.types.StructType =
    org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("shingle", StringType, nullable = false)))
  override def eval(input: org.apache.spark.sql.catalyst.InternalRow)
      : IterableOnce[org.apache.spark.sql.catalyst.InternalRow] = {
    val v = child.eval(input)
    if (v == null) return Iterator.empty
    // shared tokenize/shingle kernel with WordShingles — no per-row
    // separator allocations, no drift between the array and streaming
    // forms
    val toks = WordShingles.tokens(v.asInstanceOf[UTF8String])
    val n = toks.length - k + 1
    if (n <= 0) return Iterator.empty
    new Iterator[org.apache.spark.sql.catalyst.InternalRow] {
      private var i = 0
      override def hasNext: Boolean = i < n
      override def next(): org.apache.spark.sql.catalyst.InternalRow = {
        // fresh row per shingle: downstream operators may buffer rows
        // (outer generate, limits), so the iterator must not alias
        val row = new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(1)
        row.update(0, WordShingles.shingleAt(toks, i, k))
        i += 1
        row
      }
    }
  }
  override protected def withNewChildInternal(newChild: Expression): ShingleGenerator =
    copy(child = newChild)
  override def prettyName: String = "shingle_gen"
}

/** Bitcoin Core amount decompression (C3): BIGINT → BIGINT. */
case class DecompressAmountExpr(child: Expression) extends UnaryExpression {
  override def dataType: DataType = LongType
  override def nullSafeEval(v: Any): Any =
    graft.codec.AmountCodec.decompress(v.asInstanceOf[Long])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.codec.AmountCodec.decompress($c)")
  override protected def withNewChildInternal(newChild: Expression): DecompressAmountExpr =
    copy(child = newChild)
  override def prettyName: String = "decompress_amount"
}
