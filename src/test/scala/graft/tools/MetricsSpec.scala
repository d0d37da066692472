package graft.tools

import java.io.{BufferedOutputStream, FileOutputStream}
import java.nio.file.Files

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

import graft.codec.{ScriptCodec, SnapshotGen}

/** [[Metrics.capture]]: stage, operator and stream-batch metrics come
  * back as data, and the collector leaves no listener behind.
  */
class MetricsSpec extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("metrics-spec")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.session.timeZone", "UTC")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  private val tmp = graft.TempDirs.create("metrics-spec").toFile

  private lazy val table: String = {
    val dir = new java.io.File(tmp, "table").getAbsolutePath
    spark.range(0, 20000, 1, 4).select((col("id") % 7).as("k"), col("id").as("v"))
      .write.parquet(dir)
    dir
  }

  test("a groupBy reports its stages, shuffle bytes and the aggregate's output rows") {
    val dir = table // written outside the capture
    val (rows, p) = Metrics.capture(spark) {
      spark.read.parquet(dir).groupBy("k").agg(sum("v")).collect()
    }
    assert(rows.length == 7)
    assert(p.stages.size >= 2, p.toJson)
    assert(p.stages.map(_.shuffleWriteBytes).sum > 0, p.toJson)
    assert(p.stages.map(_.inputRecords).sum == 20000, p.toJson)
    val aggRows = p.actions.flatMap(_.operators)
      .filter(_.name == "HashAggregate").flatMap(_.metrics.get("number of output rows"))
    assert(aggRows.contains(7L), p.toJson)
    assert(p.wallSec > 0)
  }

  test("a clustered point lookup reads fewer input bytes than a full scan") {
    val script = ScriptCodec.decompress(0, Array.tabulate[Byte](20)(i => (i + 1).toByte))
    val snap = new java.io.File(tmp, "fixture.bin")
    val out = new BufferedOutputStream(new FileOutputStream(snap))
    try SnapshotGen.write(out,
      Seq(SnapshotGen.Group("11" * 32, Seq(SnapshotGen.GenCoin(0, 30, coinbase = false, 5000, script)))) ++
        SnapshotGen.synthetic(2000, seed = 99L), blockHashHex = "cd" * 32)
    finally out.close()
    val dir = new java.io.File(tmp, "clustered").getAbsolutePath
    graft.sources.UtxoConvert.convert(spark, snap.getAbsolutePath, dir, partitions = 4,
      rangePartition = true, blockSizeBytes = 8 * 1024)

    def lookup() = {
      val (hits, p) = Metrics.capture(spark) {
        graft.sources.UtxoConvert.readConverted(spark, dir)
          .filter(col("script") === lit(script)).collect()
      }
      assert(hits.length == 1)
      p
    }
    def scan() = Metrics.capture(spark) {
      graft.sources.UtxoConvert.readConverted(spark, dir)
        .write.format("noop").mode("overwrite").save()
    }._2
    def input(p: Metrics.Profile) = (p.stages.map(_.inputRecords).sum, p.stages.map(_.inputBytes).sum)

    // rows decoded: the skipped row groups are never read
    val (lookupRows, _) = input(lookup())
    val (scanRows, _) = input(scan())
    assert(scanRows == 2001)
    assert(lookupRows > 0 && lookupRows < scanRows, s"lookup $lookupRows rows, scan $scanRows rows")

    // bytes: parquet's vectored reads run off the task thread, where the
    // task's input bytes are not counted, so they are compared with
    // vectored reads off (the data pages then go through the counted path)
    spark.conf.set("parquet.hadoop.vectored.io.enabled", "false")
    try {
      val (_, lookupBytes) = input(lookup())
      val (_, scanBytes) = input(scan())
      info(s"input bytes: lookup $lookupBytes, full scan $scanBytes")
      assert(lookupBytes > 0 && lookupBytes < scanBytes, s"lookup $lookupBytes B, scan $scanBytes B")
    } finally spark.conf.unset("parquet.hadoop.vectored.io.enabled")
  }

  test("a 4-batch stream yields 4 batch records although it is stopped inside capture") {
    val src = new java.io.File(tmp, "stream-src").getAbsolutePath
    spark.range(0, 4000, 1, 4).select((col("id") % 5).as("k")).write.parquet(src)
    val (result, p) = Metrics.capture(spark) {
      val streamed = spark.readStream.schema("k long").option("maxFilesPerTrigger", "1")
        .parquet(src).groupBy("k").count()
      graft.streaming.StreamingQueries.runToBatch(spark, streamed, "metrics_spec_stream")
    }
    assert(result.count() == 5)
    assert(spark.streams.active.isEmpty)
    assert(p.batches.map(_.id) == Seq(0L, 1L, 2L, 3L), p.toJson)
    assert(p.batches.map(_.inputRows).sum == 4000, p.toJson)
    p.batches.foreach { b =>
      assert(b.durationMs.contains("addBatch") && b.durationMs.contains("walCommit"), p.toJson)
      assert(b.state.nonEmpty, p.toJson)
    }
    assert(p.batches.last.state.map(_.rowsTotal).sum == 5, p.toJson)
  }

  test("a stream run on a session derived by withConf is recorded") {
    val src = new java.io.File(tmp, "derived-stream-src").getAbsolutePath
    spark.range(0, 2000, 1, 2).select((col("id") % 3).as("k")).write.parquet(src)
    val (rows, p) = Metrics.capture(spark) {
      graft.queries.SessionScope.withConf(spark, "spark.sql.shuffle.partitions" -> "2") { d =>
        val streamed = d.readStream.schema("k long").option("maxFilesPerTrigger", "1")
          .parquet(src).groupBy("k").count()
        graft.streaming.StreamingQueries.runToBatch(d, streamed, "metrics_spec_derived").collect()
      }
    }
    assert(rows.length == 3)
    assert(p.batches.map(_.id) == Seq(0L, 1L), p.toJson)
    assert(p.batches.map(_.inputRows).sum == 2000, p.toJson)
  }

  test("capture removes its listeners, also when the body throws, and never leaks stages") {
    def query() = spark.read.parquet(table).groupBy("k").count().collect()
    val before = spark.streams.listListeners().length
    val (_, first) = Metrics.capture(spark)(query())
    assert(spark.streams.listListeners().length == before)
    intercept[IllegalStateException] {
      Metrics.capture(spark) {
        spark.read.parquet(table).count()
        throw new IllegalStateException("body failed")
      }
    }
    assert(spark.streams.listListeners().length == before)
    // the same query again: the same stage count, none of them shared
    // with the first capture or left over from the failed one
    val (_, second) = Metrics.capture(spark)(query())
    assert(first.stages.nonEmpty)
    assert(second.stages.size == first.stages.size, second.toJson)
    assert(second.stages.map(_.id).min > first.stages.map(_.id).max)
  }
}
