package graft.streaming

import java.nio.file.Files

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** Reproduces the file-source watermark hazard (ROUND6_NOTES §4) and
  * pins that [[FileIngestOrder.pinMtimesToPathOrder]] prevents it:
  * identical directory contents, identical query — the ONLY variable
  * is file mtime order, and it decides whether a window that spans a
  * file boundary is finalized once-and-complete or corrupted.
  *
  * The precise mechanism on Spark 4.1 (pinned by the debug study
  * behind this spec): a straggler whose window still has live state —
  * or has no state yet — is absorbed correctly; the loss needs the
  * window's rows SPLIT across files with later-event-time files
  * landing between them, AND one extra batch (eviction uses the
  * previous batch's watermark). Then the half-full window is
  * finalized, emitted downstream as a FINAL append row at HALF its
  * count, its state evicted — and the straggler half is dropped
  * against the advanced watermark. The sink has already shipped the
  * 50% undercount as final. Parallel part-file writes produce exactly
  * this interleaving.
  */
class FileIngestOrderSpec extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("file-ingest-order-spec")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.hadoop.fs.graftobj.impl",
      classOf[graft.tools.CountingObjectStore].getName)
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  private val tmp = graft.TempDirs.create("ingest-order-spec").toFile

  /** hour-0 window split across two files (minutes 0–29 in part-00000,
    * 30–59 in part-00001) + two hour-5 watermark-pushers (the second
    * provides the extra batch eviction needs — it lags one watermark).
    */
  private def writeFiles(dir: java.io.File): Unit = {
    import spark.implicits._
    def part(name: String, hour: Int, minute0: Int, n: Int): Unit = {
      (0 until n).map(i => (java.sql.Timestamp.valueOf(
          f"2024-01-01 $hour%02d:${minute0 + i % 30}%02d:${i / 30}%02d"),
          hour * 10000L + minute0 * 100L + i))
        .toDF("ts", "v").coalesce(1).write.parquet(s"$dir/stage_$name")
      val src = new java.io.File(s"$dir/stage_$name").listFiles()
        .find(_.getName.endsWith(".parquet")).get
      assert(src.renameTo(new java.io.File(dir, s"$name.parquet")))
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(s"$dir/stage_$name"))
    }
    dir.mkdirs()
    part("part-00000", 0, 0, 50)
    part("part-00001", 0, 30, 50)
    part("part-00002", 5, 0, 1)
    part("part-00003", 5, 30, 1)
  }

  /** Windowed count under a 10-minute watermark, one file per
    * micro-batch (the discovery order IS the mtime order), append mode
    * so only watermark-finalized windows emit. Returns emitted
    * (window_start_hour, count) pairs.
    */
  private def runQuery(dir: String, name: String): Seq[(Int, Long)] = {
    val q = spark.readStream.schema("ts TIMESTAMP, v BIGINT")
      .option("maxFilesPerTrigger", "1")
      .parquet(dir)
      .withWatermark("ts", "10 minutes")
      .groupBy(window(col("ts"), "1 hour"))
      .agg(count(lit(1)).as("n"))
      .select(hour(col("window.start")).as("h"), col("n"))
      .writeStream
      .outputMode("append")
      .format("memory")
      .queryName(name)
      .option("checkpointLocation", s"$tmp/ckpt_$name")
      .start()
    try q.processAllAvailable()
    finally q.stop()
    // the RAW emitted rows: append mode promises at most one final row
    // per window, so duplicates are visible here, not summed away
    spark.table(name).collect().map(r => r.getInt(0) -> r.getLong(1)).toSeq.sorted
  }

  test("mtime scramble finalizes a half-full window; pinMtimesToPathOrder restores it") {
    // UNGUARDED: the watermark-pushers complete BETWEEN the two halves
    // of the hour-0 window — the shape parallel part writes produce.
    // The pushers advance the watermark to 04:50, hour-0 is finalized
    // and emitted with only half A's 50 rows, and half B is dropped
    // against the evicted window. The sink has shipped count=50 as
    // FINAL.
    val scrambled = new java.io.File(tmp, "scrambled")
    writeFiles(scrambled)
    val base = 1704067200000L
    def setM(dir: java.io.File, name: String, t: Long): Unit =
      assert(new java.io.File(dir, name).setLastModified(t))
    setM(scrambled, "part-00000.parquet", base)          // half A
    setM(scrambled, "part-00002.parquet", base + 60000)  // pushers jump the queue
    setM(scrambled, "part-00003.parquet", base + 120000) // (eviction lags one batch)
    setM(scrambled, "part-00001.parquet", base + 180000) // half B: straggler
    val hazard = runQuery(scrambled.getAbsolutePath, "ingest_scrambled")
    assert(hazard == Seq(0 -> 50L),
      s"expected the boundary window finalized at HALF its count: $hazard")

    // GUARDED: same bytes, same query — one pinMtimesToPathOrder sweep
    // makes discovery order match path (= event-time) order, and the
    // window is emitted complete.
    val pinned = new java.io.File(tmp, "pinned")
    writeFiles(pinned)
    setM(pinned, "part-00002.parquet", base) // plant the hazard first
    val n = FileIngestOrder.pinMtimesToPathOrder(
      spark.sparkContext.hadoopConfiguration, pinned.getAbsolutePath)
    assert(n == 4)
    val mtimes = pinned.listFiles().filter(_.getName.endsWith(".parquet"))
      .sortBy(_.getName).map(_.lastModified())
    assert(mtimes.sameElements(mtimes.sorted) && mtimes.distinct.length == 4,
      s"mtimes not strictly path-ordered: ${mtimes.toSeq}")
    val exact = runQuery(pinned.getAbsolutePath, "ingest_pinned")
    assert(exact == Seq(0 -> 100L),
      s"guarded run must emit the boundary window ONCE, complete: $exact")
  }

  test("object store: stageInPathOrder delivers exact results with setTimes unavailable") {
    // r8 (verdict item 4): pinMtimesToPathOrder needs setTimes, which
    // object stores reject — the ordered stager is the shipped
    // mechanism there: creation ORDER (the store's PUT-completion
    // mtime) encodes path order, no metadata mutation at all.
    import org.apache.hadoop.fs.Path
    val srcDir = new java.io.File(tmp, "obj-src")
    writeFiles(srcDir)
    // scramble SOURCE mtimes into the hazard shape — the stager must
    // not depend on them in any way
    val base = 1704067200000L
    def setM(name: String, t: Long): Unit =
      assert(new java.io.File(srcDir, name).setLastModified(t))
    setM("part-00000.parquet", base)
    setM("part-00002.parquet", base + 60000)
    setM("part-00003.parquet", base + 120000)
    setM("part-00001.parquet", base + 180000)
    val watch = new java.io.File(tmp, "obj-watch").getAbsolutePath
    val conf = spark.sessionState.newHadoopConf()
    val fs = new Path(s"graftobj:$watch").getFileSystem(conf)
    // the double really is capability-less: setTimes throws (S3A
    // semantics), so the mtime guard is PROVABLY not in play
    intercept[UnsupportedOperationException] {
      fs.setTimes(new Path(s"graftobj:$watch"), 1L, -1L)
    }
    val n = FileIngestOrder.stageInPathOrder(conf, srcDir.getAbsolutePath,
      s"graftobj:$watch")
    assert(n == 4)
    // landed mtimes are strictly increasing in path order — creation
    // order alone produced what pinMtimesToPathOrder stamps elsewhere
    val mtimes = fs.listStatus(new Path(s"graftobj:$watch"))
      .filter(_.getPath.getName.endsWith(".parquet"))
      .sortBy(_.getPath.getName).map(_.getModificationTime)
    assert(mtimes.length == 4 &&
      mtimes.sliding(2).forall(p => p(0) < p(1)),
      s"staged mtimes not strictly path-ordered: ${mtimes.toSeq}")
    // no staging leftovers hidden in the watch dir
    assert(!fs.listStatus(new Path(s"graftobj:$watch"))
      .exists(_.getPath.getName.endsWith(".staging")))
    val exact = runQuery(s"graftobj:$watch", "ingest_objstore")
    assert(exact == Seq(0 -> 100L),
      s"staged object-store run must emit the boundary window ONCE, complete: $exact")
  }

  test("copy+delete rename: mid-rename crash leaves both objects; re-run is idempotent, no double-read") {
    // r9 (verdict item 4): S3-class stores have no rename primitive —
    // it is COPY (destination visible, fresh PUT mtime) then DELETE
    // (source removed). The double models exactly that and injects a
    // crash between the two; the stager must recover on restart
    // without re-landing (a re-PUT would give the file a NEW creation
    // mtime BEHIND later files) and the stream must still read every
    // row exactly once.
    import org.apache.hadoop.fs.Path
    val srcDir = new java.io.File(tmp, "crash-src")
    writeFiles(srcDir)
    val watch = new java.io.File(tmp, "crash-watch").getAbsolutePath
    val conf = spark.sessionState.newHadoopConf()
    val fs = new Path(s"graftobj:$watch").getFileSystem(conf)
    graft.tools.CountingObjectStore.copyRename.set(true)
    try {
      // arm: the FIRST file's rename completes its copy, then "crashes"
      graft.tools.CountingObjectStore.crashNextRenameAfterCopy.set(true)
      val crashed = intercept[java.io.IOException] {
        FileIngestOrder.stageInPathOrder(conf, srcDir.getAbsolutePath,
          s"graftobj:$watch")
      }
      assert(crashed.getMessage.contains("injected crash"), crashed.getMessage)
      // the crash shape: destination AND staging object both visible
      def names(): Set[String] = fs.listStatus(new Path(s"graftobj:$watch"))
        .filter(_.isFile).map(_.getPath.getName).toSet
      assert(names() == Set("part-00000.parquet", ".part-00000.parquet.staging"),
        s"expected dst + lingering staging after the injected crash: ${names()}")
      val m0 = fs.getFileStatus(new Path(s"graftobj:$watch/part-00000.parquet"))
        .getModificationTime
      // restart: the landed file is NOT re-PUT (same creation mtime),
      // the staging leftover is cleared, only the 3 missing files land
      val n2 = FileIngestOrder.stageInPathOrder(conf, srcDir.getAbsolutePath,
        s"graftobj:$watch")
      assert(n2 == 3, s"re-run landed $n2 files, expected the 3 not yet staged")
      assert(fs.getFileStatus(new Path(s"graftobj:$watch/part-00000.parquet"))
        .getModificationTime == m0,
        "recovery re-PUT an already-landed file (its mtime moved)")
      assert(!names().exists(_.endsWith(".staging")),
        s"staging leftovers after recovery: ${names()}")
      // creation order still encodes path order across the crash
      val mtimes = fs.listStatus(new Path(s"graftobj:$watch"))
        .filter(_.getPath.getName.endsWith(".parquet"))
        .sortBy(_.getPath.getName).map(_.getModificationTime)
      assert(mtimes.length == 4 && mtimes.sliding(2).forall(p => p(0) < p(1)),
        s"recovered mtimes not strictly path-ordered: ${mtimes.toSeq}")
      // a THIRD run is a no-op
      assert(FileIngestOrder.stageInPathOrder(conf, srcDir.getAbsolutePath,
        s"graftobj:$watch") == 0, "idempotent re-run must land nothing")
      // and the stream sees every row exactly once — the dot-prefixed
      // staging object was never admissible, so nothing double-read
      val exact = runQuery(s"graftobj:$watch", "ingest_crash_recovery")
      assert(exact == Seq(0 -> 100L),
        s"crash-recovered watch dir must emit the boundary window ONCE, complete: $exact")
    } finally {
      graft.tools.CountingObjectStore.copyRename.set(false)
      graft.tools.CountingObjectStore.crashNextRenameAfterCopy.set(false)
    }
  }
}
