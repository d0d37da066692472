package graft.functions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

import graft.codec.{AmountCodec, ScriptCodec}

class ExpressionSpec extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[2]")
    .appName("expression-spec")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  test("native expressions evaluate correctly via SQL and Column API") {
    import spark.implicits._
    GraftFunctions.register(spark)
    val scripts = Seq(
      ScriptCodec.decompress(0, Array.fill[Byte](20)(1)),
      ScriptCodec.decompress(1, Array.fill[Byte](20)(2)),
      Array[Byte](0, 20) ++ Array.fill[Byte](20)(3),
      Array[Byte](0x6a.toByte, 1, 9))
    val df = scripts.zipWithIndex.map { case (s, i) => (i, s, AmountCodec.compress(i * 1000L + 5)) }
      .toDF("id", "script", "camount")
    df.createOrReplaceTempView("expr_test")

    val viaSql = spark.sql(
      "SELECT id, script_type(script) AS cls, decompress_amount(camount) AS amt FROM expr_test ORDER BY id")
      .collect().map(r => (r.getInt(0), r.getString(1), r.getLong(2))).toSeq
    assert(viaSql == Seq((0, "p2pkh", 5L), (1, "p2sh", 1005L), (2, "p2wpkh", 2005L), (3, "op_return", 3005L)))

    val viaCol = df.select(col("id"), GraftFunctions.scriptType(col("script")).as("cls"))
      .orderBy("id").collect().map(_.getString(1)).toSeq
    assert(viaCol == Seq("p2pkh", "p2sh", "p2wpkh", "op_return"))
  }

  test("zorder2 interleaves bits (known vectors + slow-reference property)") {
    // known vectors: zorder2(x, y) puts x on even bits, y on odd
    assert(Morton.interleave2(0L, 0L) == 0L)
    assert(Morton.interleave2(1L, 0L) == 1L)
    assert(Morton.interleave2(0L, 1L) == 2L)
    assert(Morton.interleave2(0xFFFFFFFFL, 0L) == 0x5555555555555555L)
    assert(Morton.interleave2(0L, 0xFFFFFFFFL) == 0xAAAAAAAAAAAAAAAAL)
    // slow bit-by-bit reference over deterministic pseudo-random inputs
    def slow(x: Long, y: Long): Long =
      (0 until 32).foldLeft(0L) { (acc, i) =>
        acc | (((x >> i) & 1L) << (2 * i)) | (((y >> i) & 1L) << (2 * i + 1))
      }
    val rnd = new scala.util.Random(7)
    (1 to 200).foreach { _ =>
      val (x, y) = (rnd.nextLong() & 0xFFFFFFFFL, rnd.nextLong() & 0xFFFFFFFFL)
      assert(Morton.interleave2(x, y) == slow(x, y))
    }
    // z-order locality: adjacent codes stay adjacent in key space
    import spark.implicits._
    GraftFunctions.register(spark)
    val viaSql = spark.sql("SELECT zorder2(12345, 54321) AS z").collect()(0).getLong(0)
    assert(viaSql == Morton.interleave2(12345L, 54321L))
  }

  test("zorder2 rejects wrong arity and non-integral args at analysis time") {
    GraftFunctions.register(spark)
    import spark.implicits._
    Seq((1, 2)).toDF("x", "y").createOrReplaceTempView("zv_test")
    val oneArg = intercept[org.apache.spark.sql.AnalysisException] {
      spark.sql("SELECT zorder2(x) FROM zv_test").collect()
    }
    assert(oneArg.getMessage.toLowerCase.contains("zorder2"), oneArg.getMessage)
    val badType = intercept[org.apache.spark.sql.AnalysisException] {
      spark.sql("SELECT zorder2(CAST(x AS DOUBLE), y) FROM zv_test").collect()
    }
    assert(badType.getMessage.contains("DOUBLE") || badType.getMessage.contains("double"),
      badType.getMessage)
  }

  test("script_route matches a driver-side search and stays codegen (no ScalaUDF)") {
    import spark.implicits._
    // bounds cut the byte space at 0x10, 0x20, 0x30 → 4 buckets
    val bounds = Array(Array[Byte](0x10), Array[Byte](0x20), Array[Byte](0x30))
    val tokens = Array(7, 8, 9, 10) // arbitrary routing tokens per bucket
    def expected(b: Byte): Int = {
      val v = b & 0xff
      if (v < 0x10) tokens(0) else if (v < 0x20) tokens(1)
      else if (v < 0x30) tokens(2) else tokens(3)
    }
    val dir = graft.TempDirs.create("route-test").toString
    val rows = (0 until 256 by 5).map(i => Tuple1(Array(i.toByte, 0x01.toByte)))
    rows.toDF("script").write.mode("overwrite").parquet(dir)
    val df = spark.read.parquet(dir)
    val routed = df.select(col("script"),
      GraftFunctions.scriptRoute(bounds, tokens, col("script")).as("r"))
    routed.collect().foreach { r =>
      val s = r.getAs[Array[Byte]](0)
      assert(r.getInt(1) == expected(s(0)), s"script ${s(0) & 0xff}")
    }
    // exact-boundary scripts route to the bucket ABOVE the bound
    // (bound <= script), matching the sampler's cut-point contract
    val atBound = spark.range(1).select(
      GraftFunctions.scriptRoute(bounds, tokens, lit(Array[Byte](0x10))).as("r"))
    assert(atBound.collect()(0).getInt(0) == tokens(1))
    // the clustered-convert shape (repartition on the routing column)
    // must carry no ScalaUDF anywhere in its physical plan
    val plan = df.repartition(4,
      GraftFunctions.scriptRoute(bounds, tokens, col("script")))
      .queryExecution.executedPlan.toString
    assert(!plan.contains("ScalaUDF"), plan)
    assert(plan.contains("script_route"), plan)
  }

  test("minhash_sigs kernel: bit-identical to the explode+groupBy aggregate form") {
    import spark.implicits._
    import graft.functions.GraftFunctions.{MinhashP, hash64, permCoeffs, shingles}
    GraftFunctions.register(spark)
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val minExprs = permCoeffs(16).map { case (a, b) =>
      min((lit(a) * col("h") + lit(b)) % MinhashP)
    }
    // the aggregate form hashes with the PORTABLE md5-derived hash64 —
    // the kernel must match it bit-for-bit, because this identity is
    // what licenses the DuckDB oracles for the whole LSH family
    val viaAgg = docs
      .select(col("doc_id"), explode(shingles(col("text"), 3)).as("sh"))
      .select(col("doc_id"), (hash64(col("sh")) % MinhashP).as("h"))
      .groupBy(col("doc_id"))
      .agg(array(minExprs: _*).as("sigs"))
    val viaKernel = docs
      .select(col("doc_id"), GraftFunctions.minhashSigs(col("text")).as("sigs"))
      .filter(col("sigs").isNotNull)
    val mismatches = viaAgg.as("o").join(viaKernel.as("n"), Seq("doc_id"), "full_outer")
      .filter(col("o.sigs").isNull || col("n.sigs").isNull ||
        col("o.sigs") =!= col("n.sigs"))
      .count()
    assert(mismatches == 0, s"$mismatches docs disagree between kernel and aggregate form")

    // the kernel projection runs inside whole-stage codegen, map-only
    val plan = viaKernel.queryExecution.executedPlan.toString
    assert(!plan.contains("ScalaUDF") && !plan.contains("Exchange"), plan)
    assert(plan.contains("*(1)"), plan)

    // short texts (< 3 tokens) are null — the row the aggregate form drops
    val nulls = Seq((1L, "one two"), (2L, "a b c d")).toDF("doc_id", "text")
      .select(col("doc_id"), GraftFunctions.minhashSigs(col("text")).as("sigs"))
      .collect().map(r => r.getLong(0) -> r.isNullAt(1)).toMap
    assert(nulls == Map(1L -> true, 2L -> false))
  }

  test("simhash48 kernel: bit-identical to the 48-accumulator aggregate form") {
    GraftFunctions.register(spark)
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    // reference recomputation: the explode+groupBy shape with the same
    // portable md5-derived 60-bit per-token hash the kernel uses (==
    // GraftFunctions.hash64 == DuckDB's substr(md5, 1, 15) cast)
    val bitSums = (0 until 48).map(b =>
      sum(shiftright(col("h"), b).bitwiseAND(lit(1L))).as(s"s$b"))
    val fpFromSums = (0 until 48).map(b =>
      when(col(s"s$b") * 2 > col("n_tok"), shiftleft(lit(1L), b)).otherwise(lit(0L)))
        .reduce(_.bitwiseOR(_))
    val viaAgg = docs
      .select(col("doc_id"), explode(split(col("text"), " ")).as("tok"))
      .select(col("doc_id"), GraftFunctions.hash64(col("tok")).as("h"))
      .groupBy(col("doc_id"))
      .agg(bitSums.head, (bitSums.tail :+ count(lit(1)).as("n_tok")): _*)
      .select(col("doc_id"), fpFromSums.as("fp"))
    val viaKernel = docs
      .select(col("doc_id"), GraftFunctions.simhash48(col("text")).as("fp"))
    val mismatches = viaAgg.as("o").join(viaKernel.as("n"), Seq("doc_id"), "full_outer")
      .filter(col("o.fp").isNull || col("n.fp").isNull || col("o.fp") =!= col("n.fp"))
      .count()
    assert(mismatches == 0, s"$mismatches docs disagree between kernel and aggregate form")

    // map-only, inside whole-stage codegen; fingerprints confined to 48 bits
    val plan = viaKernel.queryExecution.executedPlan.toString
    assert(!plan.contains("ScalaUDF") && !plan.contains("Exchange"), plan)
    assert(plan.contains("*(1)"), plan)
    assert(viaKernel.filter(col("fp") < 0 || col("fp") >= (1L << 48)).count() == 0)
  }

  test("vec_dot / vec_dot_i64 / lsh_sign_bits: bitwise-identical to the HOF folds") {
    GraftFunctions.register(spark)
    val e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    def hofDot(a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column) =
      aggregate(zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
        lit(0.0), (acc, v) => acc + v)

    // float dot: EXACT double equality (same IEEE op order), not approx
    val dd = e.select(col("vec_id"),
        hofDot(col("embedding"), col("embedding")).as("h"),
        GraftFunctions.dot(col("embedding"), col("embedding")).as("k"))
      .filter(col("h") =!= col("k")).count()
    assert(dd == 0, s"$dd vectors differ between HOF and kernel dot")

    // integer dot over the SQ8 arrays: exact long equality
    val q = e.select(col("vec_id"),
      expr("transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * 10.0 + 0.5) AS BIGINT))").as("qv"))
    val di = q.select(
        aggregate(zip_with(col("qv"), col("qv"), (x, y) => x * y),
          lit(0L), (a, x) => a + x).as("h"),
        GraftFunctions.dotI64(col("qv"), col("qv")).as("k"))
      .filter(col("h") =!= col("k")).count()
    assert(di == 0, s"$di vectors differ between HOF and kernel i64 dot")

    // sign-LSH bits: same quantized planes, same integer fold, same
    // bits — the HOF form uses the kernel's own published weight table
    // (the single source of truth the DuckDB oracle also embeds)
    val nBits = 24
    val weights = graft.functions.LshSignBits.weights(nBits)
    val hofBits = array((0 until nBits).map { p =>
      val wp = array((0 until 64).map(j => lit(weights(p * 64 + j))): _*)
      val vq = expr("transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * 1000000.0 + 0.5) AS BIGINT))")
      val proj = aggregate(zip_with(vq, wp, (x, y) => x * y),
        lit(0L), (acc, x) => acc + x)
      when(proj >= 0, 1).otherwise(0)
    }: _*)
    val db = e.select(hofBits.as("h"),
        GraftFunctions.lshSignBits(col("embedding"), nBits).as("k"))
      .filter(col("h") =!= col("k")).count()
    assert(db == 0, s"$db vectors differ between HOF and kernel sign bits")

    // mismatched lengths null out, mirroring zip_with's null padding
    val bad = e.limit(1).select(
      GraftFunctions.dot(col("embedding"), slice(col("embedding"), 1, 8)).as("d"))
    assert(bad.head().isNullAt(0))

    // un-normalized input: quantized elements clamp at ±1e8, so the
    // 64-term fold cannot wrap Long (unclamped, elements of 1e6 give
    // vq·w ≈ 1e18 and the sum wraps — the sign bit would silently
    // flip). Reference computed in BigInt with the same clamp.
    import spark.implicits._
    val hot = Seq(
      Array.fill(64)(1e6.toFloat),
      Array.tabulate(64)(j => if (j % 2 == 0) 1e7f else -1e7f),
      Array.tabulate(64)(j => (j - 32) * 500f)).toDF("embedding")
    val got = hot.select(GraftFunctions.lshSignBits(col("embedding"), nBits).as("k"))
      .collect().map(_.getSeq[Int](0))
    val expect = Seq(
      Array.fill(64)(1e6), Array.tabulate(64)(j => if (j % 2 == 0) 1e7 else -1e7),
      Array.tabulate(64)(j => (j - 32) * 500.0)).map { v =>
      (0 until nBits).map { p =>
        val s = (0 until 64).map { j =>
          val vq = math.floor(v(j) * 1e6 + 0.5).toLong
            .max(-graft.functions.LshSignBits.ClampQ)
            .min(graft.functions.LshSignBits.ClampQ)
          BigInt(vq) * BigInt(weights(p * 64 + j))
        }.sum
        if (s >= 0) 1 else 0
      }
    }
    got.zip(expect).zipWithIndex.foreach { case ((g, x), i) =>
      assert(g == x, s"clamped sign bits differ on hot vector $i")
    }
  }

  test("adc_score kernel: identical to the explicit m-lookup sum, null contracts") {
    GraftFunctions.register(spark)
    // synthetic (codes, lut) pairs: m=4 codes over stride-16 LUTs with
    // value = idx-derived doubles, so the expected sum is closed-form
    val df = spark.range(0, 200).selectExpr(
      "transform(sequence(0, 3), j -> CAST((id + j * 7) % 16 AS INT)) AS codes",
      "transform(sequence(0, 63), i -> CAST(i AS DOUBLE) * 0.25 + CAST(id AS DOUBLE)) AS lut")
    val mism = df.select(
        expr("aggregate(sequence(0, 3), CAST(0.0 AS DOUBLE), (acc, j) -> acc + lut[j * 16 + codes[j]])").as("h"),
        GraftFunctions.adcScore(col("codes"), col("lut")).as("k"))
      .filter(col("h") =!= col("k")).count()
    assert(mism == 0, s"$mism rows differ between HOF and kernel adc_score")
    // LUT length not a multiple of m, and out-of-range codes: null, not garbage
    val bad = spark.sql(
      "SELECT adc_score(array(0, 1), array(1.0d, 2.0d, 3.0d)) AS a, " +
      "adc_score(array(0, 99), array(1.0d, 2.0d, 3.0d, 4.0d)) AS b").head()
    assert(bad.isNullAt(0) && bad.isNullAt(1))
  }

  test("quant_argmin kernel: identical to array_position-of-min over the HOF nd2, null contracts") {
    GraftFunctions.register(spark)
    import org.apache.spark.sql.functions.typedLit
    // deterministic quantized codebook (k=7 cells × len=5) incl. an
    // exact-tie pair (cells 2 and 5 identical → first must win)
    val cents: IndexedSeq[IndexedSeq[Long]] = IndexedSeq.tabulate(7, 5) {
      (c, i) => if (c == 5) (2L * 31 + i * 17 - 40) else (c.toLong * 31 + i * 17 - 40)
    }
    val cn2 = cents.map(c => c.map(x => x * x).sum)
    val df = spark.range(0, 500).selectExpr(
      "transform(sequence(0, 7), i -> (id * 13 + i * i * 7) % 97 - 48) AS q")
    // HOF reference at offset 2, len 5 (a genuine sub-range)
    val nd2 = org.apache.spark.sql.functions.zip_with(
      typedLit(cents.map(_.toSeq)), typedLit(cn2.toSeq),
      (c, n2) => n2 - org.apache.spark.sql.functions.lit(2L) *
        org.apache.spark.sql.functions.aggregate(
          org.apache.spark.sql.functions.zip_with(
            org.apache.spark.sql.functions.slice(col("q"), 3, 5), c,
            (x, y) => x * y),
          org.apache.spark.sql.functions.lit(0L), (a, v) => a + v))
    val mism = df.select(
        (org.apache.spark.sql.functions.array_position(nd2,
          org.apache.spark.sql.functions.array_min(nd2)) - 1).cast("int").as("h"),
        GraftFunctions.quantArgmin(col("q"), 2, 5,
          typedLit(cents.flatten), typedLit(cn2.toSeq)).as("k"))
      .filter(col("h") =!= col("k")).count()
    assert(mism == 0, s"$mism rows differ between HOF argmin and quant_argmin")
    // the probe-side LIST companion: element-for-element equal to the
    // HOF nd2 vector
    val mismNd = df.select(nd2.as("h"),
        GraftFunctions.quantNd2(col("q"), 2, 5,
          typedLit(cents.flatten), typedLit(cn2.toSeq)).as("k"))
      .filter(col("h") =!= col("k")).count()
    assert(mismNd == 0, s"$mismNd rows differ between HOF nd2 and quant_nd2")
    // shape contracts: wrong flat length, empty codebook, range past q
    val bad = spark.sql(
      "SELECT quant_argmin(array(1L, 2L), 0, 2, array(1L, 2L, 3L), array(5L, 13L)) AS a, " +
      "quant_argmin(array(1L, 2L), 0, 2, array(), array()) AS b, " +
      "quant_argmin(array(1L, 2L), 1, 2, array(1L, 2L), array(5L)) AS c").head()
    assert(bad.isNullAt(0) && bad.isNullAt(1) && bad.isNullAt(2))
  }

  test("sorted_common kernel: equals size(array_intersect) on sorted distinct sets") {
    GraftFunctions.register(spark)
    // real shingle sets from the corpus (sorted + distinct, the callers'
    // contract), self-joined on a sampled key for variety of overlaps
    val d = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .selectExpr("doc_id", "array_sort(array_distinct(word_shingles(text, 3))) AS sh",
        "doc_id % 7 AS k")
    val pairs = d.as("a").join(d.as("b"), col("a.k") === col("b.k") &&
        col("a.doc_id") < col("b.doc_id"))
      .select(col("a.sh").as("sa"), col("b.sh").as("sb"))
    val mism = pairs.select(
        size(array_intersect(col("sa"), col("sb"))).as("ref"),
        GraftFunctions.sortedCommon(col("sa"), col("sb")).as("k"))
      .filter(col("ref") =!= col("k")).count()
    assert(mism == 0, s"$mism pairs differ between array_intersect and sorted_common")
    // empty/disjoint/identical corner cases
    val corner = spark.sql(
      "SELECT sorted_common(array('a','b'), CAST(array() AS ARRAY<STRING>)) AS e, " +
      "sorted_common(array('a','b'), array('c','d')) AS dj, " +
      "sorted_common(array('a','b','c'), array('a','b','c')) AS id").head()
    assert(corner.getInt(0) == 0 && corner.getInt(1) == 0 && corner.getInt(2) == 3)
  }

  test("sorted_common_at_least: exact at/above need, always < need when the true count is") {
    GraftFunctions.register(spark)
    val d = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .selectExpr("doc_id", "array_sort(array_distinct(word_shingles(text, 3))) AS sh",
        "doc_id % 7 AS k")
    val pairs = d.as("a").join(d.as("b"), col("a.k") === col("b.k") &&
        col("a.doc_id") < col("b.doc_id"))
      .select(col("a.sh").as("sa"), col("b.sh").as("sb"))
    // sweep `need` through 0 (never exits early → must equal the plain
    // kernel everywhere) and a mid/tight band exercising both branches
    Seq(0, 3, 8).foreach { need =>
      val bad = pairs.select(
          GraftFunctions.sortedCommon(col("sa"), col("sb")).as("t"),
          GraftFunctions.sortedCommonAtLeast(col("sa"), col("sb"), lit(need)).as("p"))
        // contract: t >= need ⇒ p == t (exact); t < need ⇒ p <= t < need
        .filter(!(when(col("t") >= need, col("p") === col("t"))
          .otherwise(col("p") <= col("t") && col("p") < need)))
        .count()
      assert(bad == 0, s"$bad pairs violate the countAtLeast contract at need=$need")
    }
  }

  test("sorted_common(_at_least) over ARRAY<BIGINT>: interpreted == codegen, early exit") {
    import org.apache.spark.sql.catalyst.InternalRow
    import org.apache.spark.sql.catalyst.expressions.{Expression, InterpretedUnsafeProjection, Literal}
    import org.apache.spark.sql.catalyst.expressions.codegen.GenerateUnsafeProjection
    import org.apache.spark.sql.types.{ArrayType, LongType}
    def longs(xs: Long*) = Literal.create(xs, ArrayType(LongType, containsNull = false))
    // one value per evaluation path, so a path that disagrees shows
    def both(e: Expression): (Int, Int) = (
      InterpretedUnsafeProjection.createProjection(Seq(e)).apply(InternalRow.empty).getInt(0),
      GenerateUnsafeProjection.generate(Seq(e)).apply(InternalRow.empty).getInt(0))
    val g = 1L << 40 // the low 32 bits of every multiple are 0: an INT read would collide
    val a = longs(g, 3 * g, 5 * g, 7 * g, 9 * g)
    val b = longs(g, 2 * g, 5 * g, 9 * g, 11 * g)
    assert(both(SortedCommonExpr(a, b)) == (3, 3))
    assert(both(SortedCommonExpr(longs(g), longs(2 * g))) == (0, 0))
    assert(both(SortedCommonExpr(a, longs())) == (0, 0))
    // at or below the true count the result is exact
    Seq(0, 2, 3).foreach { need =>
      assert(both(SortedCommonAtLeastExpr(a, b, Literal(need))) == (3, 3), s"need=$need")
    }
    // out of reach from the start (5 elements per side, need 6): exits
    // before the first comparison with 0, below the true count of 3
    assert(both(SortedCommonAtLeastExpr(a, b, Literal(6))) == (0, 0))
    // reachable at first, out of reach after the first mismatch
    val c = longs(g, 4 * g, 6 * g, 8 * g)
    val d = longs(g, 5 * g, 6 * g, 8 * g)
    assert(both(SortedCommonAtLeastExpr(c, d, Literal(4))) == (1, 1))
    assert(both(SortedCommonExpr(c, d)) == (3, 3))
  }

  test("word_shingles kernel: identical strings to the transform+slice HOF form") {
    import spark.implicits._
    GraftFunctions.register(spark)
    def hofShingles(text: org.apache.spark.sql.Column, k: Int) = {
      val toks = split(text, " ")
      when(size(toks) >= k,
        transform(sequence(lit(0), size(toks) - k),
          i => concat_ws(" ", slice(toks, i + 1, lit(k)))))
        .otherwise(array().cast("array<string>"))
    }
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select(col("text"))
      .union(Seq("", "one", "one two", "a b c d e", "x  y").toDF("text"))
    for (k <- Seq(2, 3, 5)) {
      val diff = docs.select(hofShingles(col("text"), k).as("h"),
          GraftFunctions.shingles(col("text"), k).as("n"))
        .filter(col("h") =!= col("n")).count()
      assert(diff == 0, s"k=$k: $diff texts disagree between kernel and HOF shingles")
    }

    // word_chunks vs the transform+slice HOF build (incl. short tail
    // chunk and the single empty chunk for empty text)
    def hofChunks(text: org.apache.spark.sql.Column, k: Int) = {
      val words = split(text, " ")
      transform(sequence(lit(0), (ceil(size(words) / lit(k.toDouble)).cast("int") - 1)),
        i => concat_ws(" ", slice(words, i * k + 1, lit(k))))
    }
    for (k <- Seq(3, 8)) {
      val diff = docs.select(hofChunks(col("text"), k).as("h"),
          GraftFunctions.wordChunks(col("text"), k).as("n"))
        .filter(col("h") =!= col("n")).count()
      assert(diff == 0, s"k=$k: $diff texts disagree between kernel and HOF chunks")
    }
  }

  test("shingle_gen generator: identical rows to explode(word_shingles), Generate plan") {
    import spark.implicits._
    GraftFunctions.register(spark)
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select(col("doc_id"), col("text"))
      .union(Seq((-1L, ""), (-2L, "one two"), (-3L, "a b c d")).toDF("doc_id", "text"))
    val viaGen = docs.select(col("doc_id"),
      call_function("shingle_gen", col("text"), lit(3)))
    val viaExplode = docs.select(col("doc_id"),
      explode(GraftFunctions.shingles(col("text"), 3)).as("shingle"))
    val diff = viaGen.groupBy(col("doc_id"), col("shingle")).count().as("g")
      .join(viaExplode.groupBy(col("doc_id"), col("shingle")).count().as("e"),
        Seq("doc_id", "shingle"), "full_outer")
      .filter(col("g.count").isNull || col("e.count").isNull ||
        col("g.count") =!= col("e.count"))
      .count()
    assert(diff == 0, s"$diff (doc, shingle) groups differ between generator and explode")
    // the generator runs under GenerateExec, like any table function
    val plan = viaGen.queryExecution.executedPlan.toString
    assert(plan.contains("Generate") && plan.contains("shingle_gen"), plan)
  }

  test("native expressions stay inside whole-stage codegen (no ScalaUDF)") {
    GraftFunctions.register(spark)
    import spark.implicits._
    // a file-backed scan: a purely local relation constant-folds the
    // expressions away entirely (itself proof of Catalyst integration —
    // ScalaUDFs cannot fold)
    val dir = graft.TempDirs.create("cg-test").toString
    Seq((1L, Array[Byte](0x6a.toByte))).toDF("a", "s")
      .write.mode("overwrite").parquet(dir)
    spark.read.parquet(dir).createOrReplaceTempView("cg_test")
    val qe = spark.sql("SELECT script_type(s) AS c, decompress_amount(a) AS d FROM cg_test")
      .queryExecution
    val plan = qe.executedPlan.toString
    assert(!plan.contains("ScalaUDF"), plan)
    // "*(n)" marks a whole-stage-codegen'd operator in toString form
    assert(plan.contains("*(1) Project"), plan)
  }

  test("top_k3 ranks Long.MinValue last, not first (no negation overflow)") {
    import spark.implicits._
    GraftFunctions.register(spark)
    // -Long.MinValue overflows back to Long.MinValue, so an ordering
    // via `-v` treated the smallest value as the LARGEST and let it
    // evict genuine top entries
    val df = Seq((1L, Long.MinValue, 1L), (1L, 5L, 2L), (1L, 7L, 3L), (1L, 6L, 4L))
      .toDF("k", "v", "id")
    df.createOrReplaceTempView("topk_min_test")
    val top = spark.sql(
      "SELECT top_k3(v, id) AS t FROM topk_min_test GROUP BY k")
      .collect()(0).getSeq[org.apache.spark.sql.Row](0)
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(top == Seq((7L, 3L), (6L, 4L), (5L, 2L)),
      s"Long.MinValue must not enter the top-3: $top")
  }

  test("TopKSimAgg binary-insert buffer == full-sort reference across k and merge shapes") {
    // r10 replaced the re-sort-per-insert buffer with binary insertion
    // into an always-sorted Vector (the re-sort was invisible at k=3
    // but 7× at the PQ shortlist's k=1000); this pins the new reduce /
    // merge / finish against the plain sorted-take reference over
    // random streams with ties, duplicates, and uneven partition splits
    val rnd = new scala.util.Random(7)
    val ref = new Ordering[(Double, Long)] {
      def compare(a: (Double, Long), b: (Double, Long)): Int = {
        val c = java.lang.Double.compare(b._1, a._1)
        if (c != 0) c else java.lang.Long.compare(a._2, b._2)
      }
    }
    for (k <- Seq(1, 2, 3, 17, 100); trial <- 1 to 3) {
      val n = 400 + trial * 37
      // coarse sims force ties; small id range forces duplicate pairs
      val rows = Seq.fill(n)((rnd.nextInt(40) / 8.0, (rnd.nextInt(200) + 1).toLong))
      val agg = new TopKSimAgg(k)
      val parts = rows.grouped(29 + trial).toSeq
        .map(p => p.foldLeft(agg.zero)(agg.reduce))
      val merged = parts.reduce(agg.merge)
      assert(agg.finish(merged) == rows.sorted(ref).take(k),
        s"k=$k trial=$trial")
    }
  }
}
