package graft.sources

import java.io.{BufferedOutputStream, FileOutputStream}
import java.nio.file.Files

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

import graft.codec._

class UtxoSourceSpec extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("utxo-source-spec")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.session.timeZone", "UTC")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  private val tmp = graft.TempDirs.create("utxo-spec").toFile
  private val knownScript = ScriptCodec.decompress(0, Array.tabulate[Byte](20)(i => (i + 1).toByte))
  private val knownHex = Hex.encode(knownScript)

  test("truncated snapshot fails loudly, never returns partial rows silently") {
    // a mid-coin truncation must surface as a job failure: at ingest
    // scale a silent partial read IS data loss
    val full = writeFixture()
    val bytes = Files.readAllBytes(java.nio.file.Paths.get(full))
    val cut = new java.io.File(tmp, "truncated.bin")
    Files.write(cut.toPath, java.util.Arrays.copyOfRange(bytes, 0, bytes.length - 7))
    val e = intercept[Exception] {
      spark.read.format("utxo").load(cut.getAbsolutePath).count()
    }
    def messages(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ messages(t.getCause)
    assert(messages(e).nonEmpty, "truncation must raise, not return short counts")

    // corrupted magic: rejected before any coin is decoded
    val badMagic = bytes.clone(); badMagic(0) = 'X'.toByte
    val bad = new java.io.File(tmp, "badmagic.bin")
    Files.write(bad.toPath, badMagic)
    intercept[Exception] {
      spark.read.format("utxo").load(bad.getAbsolutePath).count()
    }
  }

  test("a snapshot cut inside a skipped oversized script fails in the codec, the indexer and the source") {
    // the last script (20,000 bytes) is over MaxScriptSize, so decode and
    // index skip it; cutting 5,000 bytes off the end must not let the
    // skip run past EOF and report success
    val big = Array.fill[Byte](20000)(0x42)
    val groups = Seq(
      SnapshotGen.Group("44" * 32, Seq(SnapshotGen.GenCoin(0, 5, coinbase = false, 100, knownScript))),
      SnapshotGen.Group("55" * 32, Seq(SnapshotGen.GenCoin(1, 6, coinbase = false, 200, big))))
    val bytes = {
      val out = new java.io.ByteArrayOutputStream()
      SnapshotGen.write(out, groups)
      out.toByteArray
    }
    val cut = new java.io.File(tmp, "cut-in-skip.bin")
    Files.write(cut.toPath, java.util.Arrays.copyOf(bytes, bytes.length - 5000))
    val conf = UtxoTable.hadoopConf()

    val in = SnapshotIndexer.open(cut.getAbsolutePath, conf)
    try {
      val r = new ByteReader(in)
      val h = SnapshotCodec.readHeader(r)
      intercept[java.io.EOFException](SnapshotCodec.coins(r, h).foreach(_ => ()))
      assert(r.bytesRead == cut.length(), "bytesRead must not pass the end of the file")
    } finally in.close()

    intercept[java.io.EOFException] {
      SnapshotIndexer.index(cut.getAbsolutePath, 64L * 1024, conf, sidecar = false)
    }

    def causes(t: Throwable): Seq[Throwable] = if (t == null) Nil else t +: causes(t.getCause)
    for (indexed <- Seq("true", "false")) {
      val e = intercept[Exception] {
        spark.read.format("utxo").option("index", indexed).load(cut.getAbsolutePath).count()
      }
      assert(causes(e).exists(_.isInstanceOf[java.io.EOFException]), s"index=$indexed: $e")
    }
  }

  /** Snapshot: 3 coins with a known P2PKH script at heights 30/10/20 in
    * distinct txid groups, plus 2000 synthetic noise coins.
    */
  private def writeFixture(): String = {
    val noise = SnapshotGen.synthetic(2000, seed = 99L)
    val marked = Seq(
      SnapshotGen.Group("11" * 32, Seq(SnapshotGen.GenCoin(0, 30, coinbase = false, 5000, knownScript))),
      SnapshotGen.Group("22" * 32, Seq(SnapshotGen.GenCoin(1, 10, coinbase = true, 7000, knownScript))),
      SnapshotGen.Group("33" * 32, Seq(SnapshotGen.GenCoin(2, 20, coinbase = false, 9000, knownScript))))
    val f = new java.io.File(tmp, "fixture.bin")
    val out = new BufferedOutputStream(new FileOutputStream(f))
    try SnapshotGen.write(out, marked ++ noise, blockHashHex = "cd" * 32)
    finally out.close()
    f.getAbsolutePath
  }

  private lazy val fixturePath = writeFixture()

  test("utxo source reads a snapshot end-to-end with correct rows") {
    val df = spark.read.format("utxo").load(fixturePath)
    assert(df.schema == UtxoTable.Schema)
    assert(df.count() == 2003)
    val marked = df.filter(col("script") === lit(knownScript)).orderBy("height")
      .collect()
    assert(marked.map(_.getLong(2)).toSeq == Seq(10L, 20L, 30L))
    assert(marked.map(_.getString(0)).toSeq == Seq("22" * 32, "33" * 32, "11" * 32))
    assert(marked.map(_.getLong(1)).toSeq == Seq(1L, 2L, 0L))
    assert(marked.map(_.getBoolean(3)).toSeq == Seq(true, false, false))
    assert(marked.map(_.getLong(4)).toSeq == Seq(7000L, 9000L, 5000L))
  }

  test("utxo source matches the direct codec decode exactly") {
    val viaSpark = spark.read.format("utxo").load(fixturePath)
      .orderBy("txid", "vout")
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getBoolean(3), r.getLong(4), Hex.encode(r.getAs[Array[Byte]](5))))
    val direct = {
      val in = new java.io.BufferedInputStream(new java.io.FileInputStream(fixturePath))
      try SnapshotCodec.decode(in)._2
        .map(c => (c.txid, c.vout, c.height, c.coinbase, c.amount, Hex.encode(c.script)))
        .toVector.sortBy(t => (t._1, t._2))
      finally in.close()
    }
    assert(viaSpark.toVector == direct)
  }

  test("indexed scan splits at group boundaries losslessly") {
    // tiny splits force many boundaries; decode must equal whole-file read
    val indexed = spark.read.format("utxo")
      .option("coinsPerSplit", "100")
      .load(fixturePath)
    assert(indexed.rdd.getNumPartitions > 10)
    val whole = spark.read.format("utxo").option("index", "false").load(fixturePath)
    assert(whole.rdd.getNumPartitions == 1)
    assert(indexed.count() == 2003)
    def render(df: org.apache.spark.sql.DataFrame): Seq[String] =
      df.orderBy("txid", "vout").collect().map(r =>
        (r.getString(0), r.getLong(1), r.getLong(2), r.getBoolean(3), r.getLong(4),
          Hex.encode(r.getAs[Array[Byte]](5))).toString).toSeq
    assert(render(indexed) == render(whole))
  }

  test("directory of snapshots reads all files; empty snapshot reads zero rows") {
    val dir = new java.io.File(tmp, "multi")
    dir.mkdirs()
    def writeSnap(name: String, n: Int, seed: Long): Unit = {
      val out = new java.io.BufferedOutputStream(
        new java.io.FileOutputStream(new java.io.File(dir, name)))
      try SnapshotGen.write(out, SnapshotGen.synthetic(n, seed))
      finally out.close()
    }
    writeSnap("a.bin", 500, 1L)
    writeSnap("b.bin", 700, 2L)
    val df = spark.read.format("utxo").load(dir.getAbsolutePath)
    assert(df.count() == 1200)

    val empty = new java.io.File(tmp, "empty.bin")
    val out = new java.io.BufferedOutputStream(new java.io.FileOutputStream(empty))
    try SnapshotGen.write(out, Seq.empty) finally out.close()
    assert(spark.read.format("utxo").load(empty.getAbsolutePath).count() == 0)
  }

  test("executor-side script-bound sampling matches a sequential recompute") {
    // the executor job decodes the same deterministic positions (head
    // perSplit coins of every step-th split) as the no-session
    // sequential fallback, so the cut points must be identical — pins
    // that moving the decode off the driver changed nothing
    val conf = UtxoTable.hadoopConf()
    val files = UtxoTable.expand(fixturePath, conf)
    val indexed = graft.codec.SnapshotIndexer.indexAll(files, 64L * 1024, conf)
    val seq = scala.collection.mutable.ArrayBuffer.empty[Array[Byte]]
    files.foreach { file =>
      val splits = indexed(file)._2
      val step = math.max(1, splits.size / 32)
      splits.indices.by(step).foreach { i =>
        val in = graft.codec.SnapshotIndexer.open(file, conf, splits(i).offset)
        try graft.codec.SnapshotCodec.coins(new graft.codec.ByteReader(in),
          math.min(512L, splits(i).nCoins), renderTxid = false)
          .foreach(c => seq += c.script)
        finally in.close()
      }
    }
    val sorted = seq.sortWith(graft.codec.UnsignedBytes(_, _) < 0)
    val n = 4
    val expected = (1 until n).map(i =>
      sorted((i.toLong * sorted.size / n).toInt min (sorted.size - 1)))
    val got = UtxoConvert.sampleScriptBounds(fixturePath, n)
    assert(got.length == expected.length)
    got.zip(expected).foreach { case (g, e) =>
      assert(java.util.Arrays.equals(g, e), "bounds diverged")
    }
  }

  test("range-partitioned convert globally clusters scripts across files") {
    val outDir = new java.io.File(tmp, "clustered").getAbsolutePath
    UtxoConvert.convert(spark, fixturePath, outDir, partitions = 4, rangePartition = true)
    val back = spark.read.parquet(outDir)
    assert(back.count() == 2003)
    // disjoint per-file script ranges: collect per-file min/max, check
    // no overlaps (each range maps to exactly one file)
    import spark.implicits._
    val ranges = back
      .select(input_file_name().as("f"), hex(col("script")).as("s"))
      .groupBy("f").agg(min("s").as("lo"), max("s").as("hi"))
      .collect().map(r => (r.getString(1), r.getString(2)))
      .sortBy(_._1)
    ranges.sliding(2).foreach {
      case Array((_, hi1), (lo2, _)) => assert(hi1 <= lo2, s"file ranges overlap: $hi1 vs $lo2")
      case _ => ()
    }
  }

  test("column pruning reaches the reader (pruned scan description)") {
    val df = spark.read.format("utxo").load(fixturePath).select("height", "amount")
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("UtxoScan"))
    assert(df.agg(max("height")).collect()(0).getLong(0) > 0)
    // pruned description advertises only the requested columns
    assert(plan.contains("columns=height,amount") || !plan.contains("txid"))
  }

  test("convert writes script-clustered zstd parquet answering the README query") {
    val outDir = new java.io.File(tmp, "converted").getAbsolutePath
    val stats = UtxoConvert.convert(spark, fixturePath, outDir, partitions = 4)
    // R3/C7 observed metrics: row count and running max(height) ride the job
    assert(stats.rows == 2003)
    assert(stats.maxHeight >= 30)
    // the footer carries the reference's unsigned annotations (external
    // readers — DuckDB, pyarrow — see uint64) and Spark's stale
    // row.metadata is stripped, so a raw Spark read surfaces UINT_64 as
    // DECIMAL(20,0) (Spark has no unsigned long); readConverted
    // normalizes back to LONG losslessly
    val raw = spark.read.parquet(outDir)
    assert(Seq("vout", "height", "amount").forall(c =>
      raw.schema(c).dataType == org.apache.spark.sql.types.DecimalType(20, 0)),
      s"expected unsigned-annotated columns, got ${raw.schema}")
    val back = UtxoConvert.readConverted(spark, outDir)
    assert(back.count() == 2003)
    assert(Seq("vout", "height", "amount").forall(c =>
      back.schema(c).dataType == org.apache.spark.sql.types.LongType))

    // the reference README query shape (Q3+Q4+Q2) over the known script
    val res = back
      .filter(col("script") === unhex(lit(knownHex)))
      .select("txid", "vout", "amount", "height")
      .orderBy("height")
      .collect()
    assert(res.map(_.getLong(3)).toSeq == Seq(10L, 20L, 30L))
    assert(res.map(_.getLong(2)).toSeq == Seq(7000L, 9000L, 5000L))

    // the UINT_64 annotation is in the footer schema for exactly the
    // reference's unsigned columns (src/main.rs:199-206)
    new java.io.File(outDir).listFiles().filter(_.getName.endsWith(".parquet")).foreach { f =>
      val ann = graft.tools.FooterSort.convertedTypesOf(f)
      Seq("vout", "height", "amount").foreach(c =>
        assert(ann.get(c).contains("UINT_64"), s"$c not UINT_64 in ${f.getName}: $ann"))
      assert(!ann.get("coinbase").contains("UINT_64"))
    }

    // layout: zstd codec + statistics on script present in the footer +
    // the v2 prefix-eliding encodings on the sorted columns (the
    // reference's DELTA_BYTE_ARRAY layout, src/main.rs:214)
    val layout = graft.tools.LayoutReport.scan(outDir)
    assert(layout.nonEmpty)
    layout.foreach { f =>
      f.columns.foreach(c => assert(c.codec == "ZSTD", s"${c.column} codec ${c.codec}"))
      val script = f.columns.find(_.column == "script").get
      assert(script.encodings.contains("DELTA_BYTE_ARRAY"),
        s"script encodings ${script.encodings}")
    }

    // footer sortingColumns stamped on every row group (script = leaf 5)
    // and the rewritten file still reads (count above re-validates too)
    new java.io.File(outDir).listFiles().filter(_.getName.endsWith(".parquet")).foreach { f =>
      val rgs = graft.tools.FooterSort.sortingColumnsOf(f)
      assert(rgs.nonEmpty && rgs.forall(_ == Seq((5, false, false))),
        s"sortingColumns missing/wrong in ${f.getName}: $rgs")
    }
    assert(spark.read.parquet(outDir).count() == 2003)

    // rows are sorted by script within each output file (R4 semantics)
    import spark.implicits._
    val unsortedFiles = spark.read.parquet(outDir)
      .select(input_file_name().as("f"), hex(col("script")).as("s"))
      .as[(String, String)]
      .groupByKey(_._1)
      .mapGroups { (_, it) =>
        val scripts = it.map(_._2).toVector
        scripts == scripts.sorted
      }
      .collect()
    assert(unsortedFiles.forall(identity))
  }

  /** What `readConverted` did before it resolved the schema itself:
    * Spark's schema inference, then the unsigned columns cast to long.
    */
  private def inferredRead(path: String): org.apache.spark.sql.DataFrame = {
    val df = spark.read.parquet(path)
    Seq("vout", "height", "amount").foldLeft(df)((d, c) => d.withColumn(c, col(c).cast("long")))
  }

  test("readConverted matches schema inference on stamped and unstamped outputs") {
    val stamped = new java.io.File(tmp, "rc-stamped").getAbsolutePath
    UtxoConvert.convert(spark, fixturePath, stamped, partitions = 4)
    val unstamped = new java.io.File(tmp, "rc-unstamped").getAbsolutePath
    spark.read.format("utxo").load(fixturePath).write.mode("overwrite").parquet(unstamped)
    def point(df: org.apache.spark.sql.DataFrame): Seq[Seq[Any]] =
      df.filter(col("script") === lit(knownScript)).orderBy("height").collect().toSeq
        .map(_.toSeq.map { case b: Array[Byte] => b.toSeq; case v => v })
    for (dir <- Seq(stamped, unstamped)) {
      val got = UtxoConvert.readConverted(spark, dir)
      val want = inferredRead(dir)
      assert(got.schema == want.schema, dir)
      assert(point(got) == point(want), dir)
      assert(point(got).size == 3)
    }
  }

  test("readConverted builds its DataFrame without running a Spark job") {
    val dir = new java.io.File(tmp, "rc-nojob").getAbsolutePath
    UtxoConvert.convert(spark, fixturePath, dir, partitions = 2)
    val sc = spark.sparkContext
    val group = "read-converted-no-job"
    sc.setJobGroup(group, "schema resolution")
    try {
      val df = UtxoConvert.readConverted(spark, dir)
      assert(df.schema("height").dataType == org.apache.spark.sql.types.LongType)
    } finally sc.clearJobGroup()
    assert(sc.statusTracker.getJobIdsForGroup(group).isEmpty)
  }

  test("readConverted on a directory without data files fails like spark.read.parquet") {
    val dir = new java.io.File(tmp, "rc-success-only")
    dir.mkdirs()
    new java.io.File(dir, "_SUCCESS").createNewFile()
    val want = intercept[Exception](spark.read.parquet(dir.getAbsolutePath))
    val got = intercept[Exception](UtxoConvert.readConverted(spark, dir.getAbsolutePath))
    assert(got.getClass == want.getClass)
  }

  test("row groups cap at exactly the reference's 64Ki-row granularity") {
    // reference writes 64Ki-ROW row groups (src/main.rs:211); with a
    // large byte budget the row-count limit must be what binds — a
    // single 140K-row writer task must produce 64Ki+64Ki+remainder
    val bigSnap = new java.io.File(tmp, "snap140k.bin")
    if (!bigSnap.exists()) {
      val out = new java.io.BufferedOutputStream(new java.io.FileOutputStream(bigSnap))
      try graft.codec.SnapshotGen.writeSynthetic(out, 140000, seed = 13L)
      finally out.close()
    }
    val outDir = new java.io.File(tmp, "rowcap").getAbsolutePath
    // rangePartition with n=1 funnels all 140K rows into ONE writer task
    // (the plain path would write straight from the ~64Ki indexed splits
    // and never let the row cap bind)
    UtxoConvert.convert(spark, bigSnap.getAbsolutePath, outDir, partitions = 1,
      rangePartition = true, blockSizeBytes = 1L << 30)
    val layout = graft.tools.LayoutReport.scan(outDir)
    val groups = layout.flatMap(_.rowGroupRows)
    assert(layout.map(_.rows).sum == 140000)
    assert(groups.forall(_ <= 64 * 1024), s"row group over the 64Ki cap: $groups")
    assert(groups.count(_ == 64 * 1024) >= layout.size,
      s"cap never bound — byte size split first: $groups")
  }

  test("split-index sidecar is written once and reused without re-walking the snapshot") {
    val snap = new java.io.File(tmp, "sidecar.bin")
    val out = new BufferedOutputStream(new FileOutputStream(snap))
    try SnapshotGen.write(out, SnapshotGen.synthetic(3000, seed = 7L))
    finally out.close()
    val conf = spark.sparkContext.hadoopConfiguration
    SnapshotIndexer.clearMemo()
    val before = SnapshotIndexer.uncachedPasses.get
    val (h1, s1) = SnapshotIndexer.index(snap.getAbsolutePath, 256, conf)
    assert(SnapshotIndexer.uncachedPasses.get == before + 1)
    assert(new java.io.File(snap.getAbsolutePath + SnapshotIndexer.SidecarSuffix).exists())
    assert(s1.map(_.nCoins).sum == 3000)

    // a fresh JVM (simulated by clearing the memo) loads the sidecar:
    // identical header + splits, zero additional skip-parse passes
    SnapshotIndexer.clearMemo()
    val (h2, s2) = SnapshotIndexer.index(snap.getAbsolutePath, 256, conf)
    assert(SnapshotIndexer.uncachedPasses.get == before + 1, "sidecar hit must not re-walk bytes")
    assert(h2 == h1 && s2 == s1)

    // a coarser request merges the finer sidecar (group-aligned merge),
    // still without a pass, and still decodes losslessly end-to-end
    SnapshotIndexer.clearMemo()
    val (_, s3) = SnapshotIndexer.index(snap.getAbsolutePath, 1024, conf)
    assert(SnapshotIndexer.uncachedPasses.get == before + 1)
    assert(s3.size < s1.size && s3.map(_.nCoins).sum == 3000)
    assert(s3.head.offset == s1.head.offset)
    assert(spark.read.format("utxo").option("coinsPerSplit", "1024")
      .load(snap.getAbsolutePath).count() == 3000)
  }

  test("a replaced snapshot invalidates its sidecar (fingerprint mismatch)") {
    val snap = new java.io.File(tmp, "replaced.bin")
    def writeSnap(n: Int, seed: Long): Unit = {
      val out = new BufferedOutputStream(new FileOutputStream(snap))
      try SnapshotGen.write(out, SnapshotGen.synthetic(n, seed))
      finally out.close()
    }
    val conf = spark.sparkContext.hadoopConfiguration
    writeSnap(1000, 3L)
    SnapshotIndexer.index(snap.getAbsolutePath, 128, conf)
    writeSnap(1500, 4L) // different length → stale fingerprint
    SnapshotIndexer.clearMemo()
    val before = SnapshotIndexer.uncachedPasses.get
    val (_, s) = SnapshotIndexer.index(snap.getAbsolutePath, 128, conf)
    assert(SnapshotIndexer.uncachedPasses.get == before + 1, "stale sidecar must re-index")
    assert(s.map(_.nCoins).sum == 1500)
    assert(spark.read.format("utxo").load(snap.getAbsolutePath).count() == 1500)
  }

  test("multi-file snapshot directories index executor-side and ignore sidecar files") {
    val dir = new java.io.File(tmp, "multi-idx")
    dir.mkdirs()
    def writeSnap(name: String, n: Int, seed: Long): java.io.File = {
      val f = new java.io.File(dir, name)
      val out = new BufferedOutputStream(new FileOutputStream(f))
      try SnapshotGen.write(out, SnapshotGen.synthetic(n, seed))
      finally out.close()
      f
    }
    val a = writeSnap("a.bin", 800, 21L)
    val b = writeSnap("b.bin", 900, 22L)
    SnapshotIndexer.clearMemo()
    // no sidecars yet → planInputPartitions routes through the
    // one-task-per-file Spark job (indexAll distributed path)
    val df = spark.read.format("utxo").option("coinsPerSplit", "200").load(dir.getAbsolutePath)
    assert(df.count() == 1700)
    assert(df.rdd.getNumPartitions >= 8)
    // job path published both sidecars; a re-plan after memo loss reads
    // them (directory listing must NOT treat them as snapshots)
    assert(new java.io.File(a.getAbsolutePath + SnapshotIndexer.SidecarSuffix).exists())
    assert(new java.io.File(b.getAbsolutePath + SnapshotIndexer.SidecarSuffix).exists())
    SnapshotIndexer.clearMemo()
    val before = SnapshotIndexer.uncachedPasses.get
    assert(spark.read.format("utxo").option("coinsPerSplit", "200")
      .load(dir.getAbsolutePath).count() == 1700)
    assert(SnapshotIndexer.uncachedPasses.get == before, "re-plan must load sidecars, not re-walk")
  }

  test("point lookup skips row groups (plain) and prunes to one file (clustered)") {
    // small row groups force several per file, so the footer min/max
    // stats — what a stats-aware reader skips on — are testable: the
    // known-script point query must touch strictly fewer row groups
    // than the file holds (the reference's whole 0.6s-query story,
    // README.md:105-107, rides on this skipping)
    val plainDir = new java.io.File(tmp, "skip-plain").getAbsolutePath
    UtxoConvert.convert(spark, fixturePath, plainDir, partitions = 2,
      blockSizeBytes = 8 * 1024)
    val (totalRg, matchRg) = graft.tools.LayoutReport.statsMatch(plainDir, "script", knownHex)
    assert(totalRg >= 8, s"fixture too small to form row groups: $totalRg")
    assert(matchRg >= 1, "known script must be inside some row group range")
    assert(matchRg.toDouble / totalRg <= 0.5,
      s"stats-based skipping too weak: $matchRg of $totalRg row groups match")

    // globally clustered: disjoint per-file ranges → exactly one file
    // (of several) can contain the known script
    val clusDir = new java.io.File(tmp, "skip-clustered").getAbsolutePath
    UtxoConvert.convert(spark, fixturePath, clusDir, partitions = 4,
      rangePartition = true, blockSizeBytes = 8 * 1024)
    val files = graft.tools.LayoutReport.scan(clusDir)
    assert(files.size >= 2, s"expected multiple clustered files, got ${files.size}")
    val matchingFiles = files.count { f =>
      val (tot, m) = graft.tools.LayoutReport.statsMatch(
        new java.io.File(clusDir).getAbsolutePath + "/" + f.file, "script", knownHex)
      m > 0
    }
    assert(matchingFiles == 1,
      s"clustered convert must prune the lookup to one file, got $matchingFiles")

    // and Spark's scan actually exploits it: the filtered read over the
    // clustered layout returns the 3 marked coins
    val res = UtxoConvert.readConverted(spark, clusDir)
      .filter(col("script") === unhex(lit(knownHex)))
      .select("height").orderBy("height").collect().map(_.getLong(0)).toSeq
    assert(res == Seq(10L, 20L, 30L))
  }

  test("script bloom filters give exact-membership row-group skipping on the plain layout") {
    // plain layout weakness: every file spans the full script range, so
    // min/max stats leave >= 1 candidate row group per file even for a
    // key the file does not hold — at 100 TB that is thousands of
    // wasted row-group reads per point lookup. The opt-in split-block
    // bloom on `script` must (a) survive the FooterSort footer stamp,
    // (b) admit the present key, (c) reject an absent key stats cannot.
    val bloomDir = new java.io.File(tmp, "skip-bloom").getAbsolutePath
    UtxoConvert.convert(spark, fixturePath, bloomDir, partitions = 2,
      blockSizeBytes = 8 * 1024, bloomFilterScript = true)

    // an absent-but-in-range script: same P2PKH shape, different hash160
    val absentScript = ScriptCodec.decompress(0, Array.tabulate[Byte](20)(i => (i + 101).toByte))
    val absentHex = Hex.encode(absentScript)
    assert(UtxoConvert.readConverted(spark, bloomDir)
      .filter(col("script") === unhex(lit(absentHex))).count() == 0L)

    val (total, presentPossible) =
      graft.tools.LayoutReport.bloomMatch(bloomDir, "script", knownHex)
    assert(total >= 8, s"fixture too small to form row groups: $total")
    assert(presentPossible >= 1, "bloom must admit a present key")
    assert(presentPossible <= 3, // the 3 marked coins bound the true row groups
      s"bloom-possible groups for a 3-row key: $presentPossible of $total")
    val (_, absentPossible) =
      graft.tools.LayoutReport.bloomMatch(bloomDir, "script", absentHex)
    assert(absentPossible == 0,
      s"bloom must reject the absent key everywhere, got $absentPossible groups")
    // ... which stats alone cannot do for an in-range key
    val (_, absentStats) =
      graft.tools.LayoutReport.statsMatch(bloomDir, "script", absentHex)
    assert(absentStats >= 1, "absent key chosen outside all min/max ranges defeats the point of this spec")

    // a bloom-less convert cannot skip anything by membership
    val noBloomDir = new java.io.File(tmp, "skip-nobloom").getAbsolutePath
    UtxoConvert.convert(spark, fixturePath, noBloomDir, partitions = 2,
      blockSizeBytes = 8 * 1024)
    val (nbTotal, nbPossible) =
      graft.tools.LayoutReport.bloomMatch(noBloomDir, "script", absentHex)
    assert(nbPossible == nbTotal, "no bloom filter -> every group stays a candidate")

    // correctness through the bloom + stamped footer: results unchanged
    val viaBloom = UtxoConvert.readConverted(spark, bloomDir)
      .filter(col("script") === unhex(lit(knownHex)))
      .select("height").orderBy("height").collect().map(_.getLong(0)).toSeq
    assert(viaBloom == Seq(10L, 20L, 30L))
  }

  test("clusterRowsPerBucket sizes reduce sorts from the real heap (r11)") {
    // pin the execution-memory arithmetic the auto clustered convert
    // uses (r10 verdict `weak`: a constant bucket size spilled 22 GB at
    // the default heap): pool = (maxHeap − 300MB) × memory.fraction,
    // guaranteed per-task floor = pool / (2 × parallelism), rows =
    // floor / SorterBytesPerRow, clamped to [256Ki, 2M]
    val heap = Runtime.getRuntime.maxMemory
    val fraction = spark.conf.getOption("spark.memory.fraction")
      .map(_.toDouble).getOrElse(0.6)
    val pool = ((heap - 300L * 1024 * 1024).max(0L) * fraction).toLong
    val par = spark.sparkContext.defaultParallelism
    val expected = math.max(256L * 1024, math.min(
      UtxoConvert.MaxClusterRowsPerBucket,
      pool / (2L * par) / UtxoConvert.SorterBytesPerRow))
    val got = UtxoConvert.clusterRowsPerBucket(spark)
    assert(got == expected)
    assert(got >= 256L * 1024 && got <= UtxoConvert.MaxClusterRowsPerBucket)
    // and the zero-spill invariant the sizing exists for: the worst
    // case concurrent sorter footprint fits the unified pool even with
    // every task slot at its guaranteed-floor share — UNLESS the 256Ki
    // minimum clamp bound (sub-GB heaps deliberately accept spill
    // rather than emit confetti files), in which case the invariant is
    // out of scope by design
    if (got > 256L * 1024)
      assert(got * UtxoConvert.SorterBytesPerRow * 2L * par <= pool + par)
  }
}
