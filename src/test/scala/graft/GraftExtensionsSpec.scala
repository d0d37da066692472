package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** The extensions entry point must make the native expressions usable
  * from pure SQL with no per-session register() call — the drop-in
  * library contract (`spark.sql.extensions=graft.GraftExtensions`).
  */
class GraftExtensionsSpec extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession = {
    // extensions apply at session construction: make sure this suite
    // builds its own session instead of inheriting another suite's
    SparkSession.getActiveSession.foreach(_.stop())
    SparkSession.builder()
      .master("local[2]")
      .appName("extensions-spec")
      .withExtensions(new GraftExtensions)
      .config("spark.sql.shuffle.partitions", "2")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
  }

  override def afterAll(): Unit = spark.stop()

  test("script_type and decompress_amount resolve as SQL functions") {
    // p2pkh template: 76a914 <20 bytes> 88ac
    val row = spark.sql(
      """SELECT script_type(unhex('76a914000102030405060708090a0b0c0d0e0f1011121388ac')) AS st,
        |       decompress_amount(0L) AS zero_amt,
        |       decompress_amount(10L) AS ten
        |""".stripMargin).collect()(0)
    assert(row.getString(0) == "p2pkh")
    assert(row.getLong(1) == 0L)
    assert(row.getLong(2) == graft.codec.AmountCodec.decompress(10L))
  }

  test("injected functions carry catalog metadata (DESCRIBE FUNCTION)") {
    val desc = spark.sql("DESCRIBE FUNCTION script_type")
      .collect().map(_.getString(0)).mkString("\n")
    assert(desc.contains("script_type"))
  }

  test("every native kernel in the table resolves as an injected SQL function") {
    val cls = graft.functions.GraftFunctions.getClass.getName
    graft.functions.GraftFunctions.Kernels.foreach { case (name, _) =>
      val desc = spark.sql(s"DESCRIBE FUNCTION $name")
        .collect().map(_.getString(0)).mkString("\n")
      assert(desc.contains(s"Function: $name") && desc.contains(s"Class: $cls"),
        s"$name is not injected:\n$desc")
    }
  }

  test("SQL kernels equal their Column-helper forms") {
    import org.apache.spark.sql.functions.lit
    import graft.functions.GraftFunctions
    val viaSql = spark.sql(
      """SELECT word_shingles('a b c d', 3) AS sh,
        |  vec_dot(CAST(array(1.0, 2.0) AS ARRAY<FLOAT>),
        |          CAST(array(3.0, 4.0) AS ARRAY<FLOAT>)) AS d""".stripMargin)
      .collect()(0)
    val viaColumn = spark.range(1).select(
      GraftFunctions.shingles(lit("a b c d"), 3).as("sh"),
      GraftFunctions.dot(lit(Array(1.0f, 2.0f)), lit(Array(3.0f, 4.0f))).as("d"))
      .collect()(0)
    assert(viaSql.getSeq[String](0) == Seq("a b c", "b c d"))
    assert(viaSql.getDouble(1) == 11.0)
    assert(viaSql == viaColumn)
  }

  test("sorted_common and sorted_common_at_least take ARRAY<BIGINT> in SQL") {
    // 2^32 and 2^33 share their low 32 bits with 0: only a BIGINT merge
    // tells them apart
    val r = spark.sql(
      """SELECT sorted_common(array(1L, 4294967296L, 8589934592L),
        |                     array(4294967296L, 8589934592L, 12884901888L)) AS c,
        |  sorted_common(array(4294967296L), array(8589934592L)) AS dj,
        |  sorted_common_at_least(array(1L, 4294967296L, 8589934592L),
        |                         array(4294967296L, 8589934592L, 12884901888L), 2) AS at2,
        |  sorted_common_at_least(array(1L, 2L), array(1L, 2L), 3) AS out""".stripMargin)
      .collect()(0)
    assert((r.getInt(0), r.getInt(1), r.getInt(2), r.getInt(3)) == (2, 0, 2, 0))
    // integral arrays are widened to BIGINT, on either side
    val w = spark.sql(
      """SELECT sorted_common(array(1, 2, 3), array(2, 3, 4)) AS ii,
        |  sorted_common(array(1L, 2L), array(1, 2)) AS li,
        |  sorted_common_at_least(array(1, 2, 3), array(2, 3L, 4), 2) AS at2""".stripMargin)
      .collect()(0)
    assert((w.getInt(0), w.getInt(1), w.getInt(2)) == (2, 2, 2))
  }

  test("sorted_common and sorted_common_at_least reject mismatched inputs at analysis") {
    import org.apache.spark.sql.AnalysisException
    import org.apache.spark.sql.functions.{col, lit}
    import graft.functions.GraftFunctions
    def rejected(sql: String): String =
      intercept[AnalysisException](spark.sql(s"SELECT $sql")).getCondition
    Seq("sorted_common(array(1L), array('a'))",
        "sorted_common(array('a'), array(1L))",
        "sorted_common(array(1.0D), array(1.0D))",
        "sorted_common('a', 'a')",
        "sorted_common_at_least(array(1L), array('a'), 1)",
        "sorted_common_at_least(array(1L), array(1L), 1L)").foreach { sql =>
      assert(rejected(sql) == "DATATYPE_MISMATCH.UNEXPECTED_INPUT_TYPE", sql)
    }
    // the Column form does not widen: BIGINT against INT is an analysis
    // error there too, never an 8-byte read of 4-byte elements
    val df = spark.sql("SELECT array(1L, 2L) AS l, array(1, 2) AS i")
    Seq(GraftFunctions.sortedCommon(col("l"), col("i")),
        GraftFunctions.sortedCommonAtLeast(col("l"), col("i"), lit(1))).foreach { c =>
      val e = intercept[AnalysisException](df.select(c))
      assert(e.getCondition == "DATATYPE_MISMATCH.UNEXPECTED_INPUT_TYPE", e.getMessage)
    }
  }

  /** Fixture scripts covering several classes, one of each. */
  private def scriptRows: Seq[Array[Byte]] = {
    def b(xs: Int*): Array[Byte] = xs.map(_.toByte).toArray
    Seq(
      b(Seq(0x76, 0xa9, 0x14) ++ Seq.fill(20)(0x11) ++ Seq(0x88, 0xac): _*), // p2pkh
      b(Seq(0xa9, 0x14) ++ Seq.fill(20)(0x22) ++ Seq(0x87): _*), // p2sh
      b(Seq(0x00, 0x14) ++ Seq.fill(20)(0x33): _*), // p2wpkh
      b(0x6a, 0x01, 0x42), // op_return
      b(Seq(0x51) ++ Seq.fill(10)(0x44): _*)) // other (not p2tr: wrong len)
  }

  test("ScriptClassPrefixRule: adds sargable prefix ranges, idempotent, pushed to parquet") {
    import spark.implicits._
    import org.apache.spark.sql.catalyst.expressions.{GreaterThanOrEqual, LessThan}
    import org.apache.spark.sql.functions.col

    // parquet-backed source: a LocalRelation would be eagerly evaluated
    // by ConvertToLocalRelation, leaving no Filter to inspect
    val dir = graft.TempDirs.create("scripts-parq").toString
    scriptRows.map(Tuple1(_)).toDF("script")
      .orderBy(col("script")).write.mode("overwrite").parquet(dir)
    val df = spark.read.parquet(dir)
    val filtered = df.filter(org.apache.spark.sql.functions.expr("script_type(script) = 'p2pkh'"))
    val optimized = filtered.queryExecution.optimizedPlan
    val gte = optimized.expressions.flatMap(_.collect { case g: GreaterThanOrEqual => g })
    val lt = optimized.expressions.flatMap(_.collect { case l: LessThan => l })
    assert(gte.size == 1 && lt.size == 1,
      s"expected exactly one injected range pair (idempotence), got:\n$optimized")

    // semantics: the range is redundant — results match the pure classifier
    val got = filtered.collect().map(r => r.getAs[Array[Byte]](0).toSeq).toSet
    val want = scriptRows.filter(s => graft.codec.ScriptCodec.scriptType(s) == "p2pkh")
      .map(_.toSeq).toSet
    assert(got == want)

    // pushdown: the injected binary range reaches the reader's
    // PushedFilters while the opaque classifier cannot
    val scan = spark.read.parquet(dir)
      .filter(org.apache.spark.sql.functions.expr("script_type(script) = 'p2sh'"))
    scan.collect() // force planning + execution
    val physical = scan.queryExecution.executedPlan.toString
    assert(physical.contains("PushedFilters: [") &&
      physical.contains("GreaterThanOrEqual(script"),
      s"expected the prefix range in PushedFilters, got:\n$physical")
  }

  test("p2pk class rewrites to OR-of-ranges, idempotent, exact results") {
    import spark.implicits._
    import org.apache.spark.sql.catalyst.expressions.{GreaterThanOrEqual, LessThan, Or}
    import org.apache.spark.sql.functions.col
    def b(xs: Int*): Array[Byte] = xs.map(_.toByte).toArray
    // fixture spanning all three p2pk byte shapes + near-miss neighbors
    val rows = scriptRows ++ Seq(
      b(Seq(0x21, 0x02) ++ Seq.fill(32)(0x01) ++ Seq(0xac): _*), // p2pk even-y
      b(Seq(0x21, 0x03) ++ Seq.fill(32)(0x02) ++ Seq(0xac): _*), // p2pk odd-y
      b(Seq(0x41, 0x04) ++ Seq.fill(64)(0x03) ++ Seq(0xac): _*), // p2pk uncompressed
      b(Seq(0x21, 0x04) ++ Seq.fill(32)(0x04) ++ Seq(0xac): _*), // not p2pk (bad parity byte)
      b(Seq(0x41, 0x05) ++ Seq.fill(64)(0x05) ++ Seq(0xac): _*)) // not p2pk
    val dir = graft.TempDirs.create("p2pk-parq").toString
    rows.map(Tuple1(_)).toDF("script")
      .orderBy(col("script")).write.mode("overwrite").parquet(dir)
    val filtered = spark.read.parquet(dir)
      .filter(org.apache.spark.sql.functions.expr("script_type(script) = 'p2pk'"))
    val optimized = filtered.queryExecution.optimizedPlan
    // exactly one Or conjunct holding the two ranges (21 02..21 04 and
    // 41 04..41 05) — and exactly once (idempotence across the
    // fixed-point optimizer batch)
    val ors = optimized.expressions.flatMap(_.collect { case o: Or => o })
    assert(ors.nonEmpty, s"expected an OR-of-ranges conjunct:\n$optimized")
    val gte = optimized.expressions.flatMap(_.collect { case g: GreaterThanOrEqual => g })
    val lt = optimized.expressions.flatMap(_.collect { case l: LessThan => l })
    assert(gte.size == 2 && lt.size == 2,
      s"expected exactly two injected range pairs, got ${gte.size}/${lt.size}:\n$optimized")
    // semantics: the ranges are redundant — results match the classifier
    val got = filtered.collect().map(r => r.getAs[Array[Byte]](0).toSeq).toSet
    val want = rows.filter(s => graft.codec.ScriptCodec.scriptType(s) == "p2pk")
      .map(_.toSeq).toSet
    assert(got == want && want.size == 3, s"got ${got.size}, want ${want.size}")
  }

  test("p2pk class query row-group-skips the script-sorted UTXO parquet") {
    // the reference's third asserted class (`src/main.rs:159`): with the
    // OR-of-ranges rewrite the p2pk slices must overlap fewer row
    // groups than the file holds
    val tmp = graft.TempDirs.create("p2pk-skip").toFile
    val snap = new java.io.File(tmp, "snap.bin")
    val out = new java.io.BufferedOutputStream(new java.io.FileOutputStream(snap))
    try graft.codec.SnapshotGen.writeSynthetic(out, 20000, seed = 11L)
    finally out.close()
    val outDir = new java.io.File(tmp, "parq").getAbsolutePath
    graft.sources.UtxoConvert.convert(spark, snap.getAbsolutePath, outDir,
      partitions = 2, rangePartition = true, blockSizeBytes = 16 * 1024)
    val (total, overlapCompressed) = graft.tools.LayoutReport.statsRangeMatch(
      outDir, "script", "2102", "2104")
    val (_, overlapUncompressed) = graft.tools.LayoutReport.statsRangeMatch(
      outDir, "script", "4104", "4105")
    assert(total >= 8, s"fixture too small to form row groups: $total")
    assert(overlapCompressed + overlapUncompressed < total,
      s"p2pk ranges must skip row groups: $overlapCompressed+$overlapUncompressed of $total")
    val viaRule = spark.read.parquet(outDir)
      .filter(org.apache.spark.sql.functions.expr("script_type(script) = 'p2pk'"))
      .count()
    val brute = spark.read.parquet(outDir).collect()
      .count(r => graft.codec.ScriptCodec.scriptType(r.getAs[Array[Byte]]("script")) == "p2pk")
    assert(viaRule == brute && brute > 0)
  }

  test("class query row-group-skips the script-sorted UTXO parquet via the rule") {
    // synthetic snapshot → clustered convert with small row groups, then
    // the p2pkh class range must overlap strictly fewer row groups than
    // the file holds — the measured payoff of ScriptClassPrefixRule on
    // the reference layout (sorted scripts + footer stats)
    val tmp = graft.TempDirs.create("ext-skip").toFile
    val snap = new java.io.File(tmp, "snap.bin")
    val out = new java.io.BufferedOutputStream(new java.io.FileOutputStream(snap))
    try graft.codec.SnapshotGen.writeSynthetic(out, 20000, seed = 7L)
    finally out.close()
    val outDir = new java.io.File(tmp, "parq").getAbsolutePath
    graft.sources.UtxoConvert.convert(spark, snap.getAbsolutePath, outDir,
      partitions = 2, rangePartition = true, blockSizeBytes = 16 * 1024)

    val (total, overlapping) = graft.tools.LayoutReport.statsRangeMatch(
      outDir, "script", "76a914", "76a915")
    assert(total >= 8, s"fixture too small to form row groups: $total")
    assert(overlapping < total,
      s"class range must skip row groups: $overlapping of $total overlap")

    // the rule-rewritten query returns exactly the brute classifier rows
    val viaRule = spark.read.parquet(outDir)
      .filter(org.apache.spark.sql.functions.expr("script_type(script) = 'p2pkh'"))
      .count()
    val brute = spark.read.parquet(outDir).collect()
      .count(r => graft.codec.ScriptCodec.scriptType(r.getAs[Array[Byte]]("script")) == "p2pkh")
    assert(viaRule == brute && brute > 0)
  }
}
