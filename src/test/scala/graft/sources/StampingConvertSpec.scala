package graft.sources

import java.io.{BufferedOutputStream, FileOutputStream}
import java.nio.file.Files

import org.apache.hadoop.fs.{FileSystem, Path}

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

import graft.codec._
import graft.tools.{CountingDfs, CountingObjectStore, FooterSort}

/** Pins where and how the convert stamps its footers: inside each
  * write task's commit ([[StampingOutputCommitter]]), before the files
  * are published, on every filesystem — so total bytes written ≈ 1× the
  * output size and the data pages are never re-read. Measured against
  * [[graft.tools.CountingDfs]], a byte-counting RawLocalFileSystem under
  * a `graftdfs://` scheme (truncate+append capable, like HDFS) and
  * [[graft.tools.CountingObjectStore]] (`graftobj://`, neither — like
  * S3A — where the staged copy fallback must kick in pre-commit); the
  * local `file:` target goes through the checksummed local filesystem.
  * The committer is chosen per write, so the caller's session conf is
  * never touched.
  */
class StampingConvertSpec extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("stamping-convert-spec")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.hadoop.fs.graftdfs.impl", classOf[CountingDfs].getName)
    .config("spark.hadoop.fs.graftobj.impl", classOf[CountingObjectStore].getName)
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  private val tmp = graft.TempDirs.create("stamp-convert-spec").toFile

  private lazy val fixturePath: String = {
    val f = new java.io.File(tmp, "fixture.bin")
    val out = new BufferedOutputStream(new FileOutputStream(f))
    try SnapshotGen.write(out, SnapshotGen.synthetic(20000, seed = 7L),
      blockHashHex = "ab" * 32)
    finally out.close()
    f.getAbsolutePath
  }

  private def parquetFiles(dir: String): Array[java.io.File] =
    new java.io.File(dir).listFiles().filter(_.getName.endsWith(".parquet"))

  private def dirBytes(dir: String): Long = parquetFiles(dir).map(_.length()).sum

  private def assertStamped(dir: String): Unit = {
    val files = parquetFiles(dir)
    assert(files.nonEmpty)
    files.foreach { f =>
      val rgs = FooterSort.sortingColumnsOf(f)
      assert(rgs.nonEmpty && rgs.forall(_.nonEmpty),
        s"sortingColumns missing in ${f.getName}")
      val ann = FooterSort.convertedTypesOf(f)
      Seq("vout", "height", "amount").foreach(c =>
        assert(ann.get(c).contains("UINT_64"), s"$c not UINT_64 in ${f.getName}: $ann"))
    }
  }

  test("DFS convert: stamp rides the commit, bytes written ~= 1x output") {
    val dir = new java.io.File(tmp, "dfs-out").getAbsolutePath
    CountingDfs.reset()
    val stats = UtxoConvert.convert(spark, fixturePath, s"graftdfs:$dir",
      partitions = 3)
    assert(stats.rows == 20000)
    val written = CountingDfs.bytesWritten.sum()
    val read = CountingDfs.bytesRead.sum()
    val size = dirBytes(dir)
    assert(size > 0)
    // 1× the output plus the truncated-away pre-stamp footers — never a
    // second pass over the data pages
    assert(written >= size, s"written=$written < size=$size (counter broken?)")
    assert(written <= (size * 1.05).toLong + 64 * 1024,
      s"write amplification: written=$written vs size=$size")
    // reads are footers only (stamp) — not the table
    assert(read <= (size * 0.2).toLong + 64 * 1024,
      s"stamp re-read data pages: read=$read vs size=$size")
    assertStamped(dir)
    // the stamped output is a valid table with the full row set
    val back = UtxoConvert.readConverted(spark, s"graftdfs:$dir")
    assert(back.count() == 20000)
    assert(back.agg(sum(col("amount"))).head.getLong(0) ==
      UtxoConvert.load(spark, fixturePath).agg(sum(col("amount"))).head.getLong(0))
  }

  test("object-store convert: staged copy fallback, still pre-commit, still stamped") {
    val dir = new java.io.File(tmp, "obj-out").getAbsolutePath
    CountingDfs.reset()
    val stats = UtxoConvert.convert(spark, fixturePath, s"graftobj:$dir",
      partitions = 3)
    assert(stats.rows == 20000)
    val written = CountingDfs.bytesWritten.sum()
    val read = CountingDfs.bytesRead.sum()
    val size = dirBytes(dir)
    // no truncate/append: the staged file is streamed once to a sibling
    // (2× write, 1× read) — the honest object-store floor, and it
    // happens pre-commit in the task, never as a post-hoc table pass.
    // CountingObjectStore.truncate/append THROW, so reaching them at
    // all would have failed the convert.
    assert(written >= 2 * size, s"expected ~2x staged write, got $written vs size=$size")
    assert(written <= (size * 2.1).toLong + 128 * 1024,
      s"object-store amplification above the copy floor: $written vs $size")
    assert(read >= size, s"copy fallback must stream the data once: read=$read")
    assert(read <= (size * 1.2).toLong + 128 * 1024,
      s"copy fallback re-read more than once: read=$read vs $size")
    assertStamped(dir)
    assert(UtxoConvert.readConverted(spark, s"graftobj:$dir").count() == 20000)
  }

  test("local convert: stamped inside the commit, crc-clean, complete") {
    val dir = new java.io.File(tmp, "local-out").getAbsolutePath
    val stats = UtxoConvert.convert(spark, fixturePath, s"file:$dir", partitions = 3)
    assert(stats.rows == 20000)
    assertStamped(dir)
    // a .crc left next to a stamped file would no longer verify: read
    // every part file fully through the checksummed local filesystem
    val local = FileSystem.getLocal(spark.sparkContext.hadoopConfiguration)
    parquetFiles(dir).foreach { f =>
      val in = local.open(new Path(f.getAbsolutePath))
      try {
        val buf = new Array[Byte](1 << 16)
        var total = 0L
        var n = in.read(buf)
        while (n > 0) { total += n; n = in.read(buf) }
        assert(total == f.length(), s"short read of ${f.getName}")
      } finally in.close()
    }
    assert(UtxoConvert.readConverted(spark, s"file:$dir").count() == 20000)
  }

  test("re-stamping a stamped output is idempotent and keeps the data bytes") {
    val dir = new java.io.File(tmp, "local-out").getAbsolutePath
    def footerStart(b: Array[Byte]): Int = {
      val n = b.length
      val footerLen = (b(n - 8) & 0xff) | ((b(n - 7) & 0xff) << 8) |
        ((b(n - 6) & 0xff) << 16) | ((b(n - 5) & 0xff) << 24)
      n - 8 - footerLen
    }
    val before = parquetFiles(dir).map(f => f.getName -> Files.readAllBytes(f.toPath)).toMap
    assert(FooterSort.stamp(dir, Seq("script"),
      unsigned = Seq("vout", "height", "amount")) == before.size)
    assertStamped(dir)
    parquetFiles(dir).foreach { f =>
      val old = before(f.getName)
      val now = Files.readAllBytes(f.toPath)
      val start = footerStart(old)
      assert(footerStart(now) == start, s"${f.getName}: footer moved")
      assert(java.util.Arrays.equals(old, 0, start, now, 0, start),
        s"${f.getName}: data bytes changed by a re-stamp")
    }
    assert(UtxoConvert.readConverted(spark, dir).count() == 20000)
  }

  test("the convert leaves the caller's session conf untouched") {
    val conf = spark.conf.getAll
    UtxoConvert.convert(spark, fixturePath,
      s"file:${new java.io.File(tmp, "scoped-local").getAbsolutePath}", partitions = 2)
    assert(spark.conf.getAll == conf, "a file: convert changed the caller's conf")
    val dfsDir = new java.io.File(tmp, "scoped-dfs").getAbsolutePath
    UtxoConvert.convert(spark, fixturePath, s"graftdfs:$dfsDir", partitions = 2)
    assert(spark.conf.getAll == conf, "a graftdfs: convert changed the caller's conf")
    assertStamped(dfsDir)
    // a clustered convert routes by its own sampled bounds without
    // registering the router on the caller's session
    UtxoConvert.convert(spark, fixturePath,
      s"file:${new java.io.File(tmp, "scoped-clustered").getAbsolutePath}", partitions = 2,
      rangePartition = true)
    assert(spark.conf.getAll == conf, "a clustered convert changed the caller's conf")
    assert(!spark.sessionState.functionRegistry.functionExists(
      org.apache.spark.sql.catalyst.FunctionIdentifier("script_route")),
      "a clustered convert registered script_route on the caller's session")
    // the committer rode the convert's write only: a plain parquet write
    // on the same session afterwards comes out unstamped
    val plain = new java.io.File(tmp, "plain-out").getAbsolutePath
    spark.range(100).selectExpr("id", "id * 2 AS v")
      .write.mode("overwrite").parquet(s"graftdfs:$plain")
    parquetFiles(plain).foreach { f =>
      assert(FooterSort.sortingColumnsOf(f).forall(_.isEmpty),
        s"a plain write after the convert got stamped: ${f.getName}")
      assert(!FooterSort.convertedTypesOf(f).values.exists(_ == "UINT_64"),
        s"a plain write after the convert got UINT_64 annotations: ${f.getName}")
    }
  }

  test("no staging leftovers or temp dirs survive the DFS convert") {
    Seq("dfs-out", "obj-out", "local-out").foreach { d =>
      val dir = new java.io.File(tmp, d)
      if (dir.exists()) {
        val leftovers = dir.listFiles().filter(f =>
          f.getName.contains(".stamp.tmp") || f.getName.endsWith("._old") ||
            f.getName == "_temporary")
        assert(leftovers.isEmpty,
          s"$d leftovers: ${leftovers.map(_.getName).toSeq}")
      }
    }
  }
}
